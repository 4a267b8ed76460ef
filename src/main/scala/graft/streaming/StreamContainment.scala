package graft.streaming

import java.nio.charset.StandardCharsets
import java.util.Locale

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.llm.Dedup

/** Streaming containment-estimate ingest gate — the estimate tier (dd21 /
  * dd22, LSH-Ensemble containment per Zhu et al. VLDB'16) in StreamDedup's
  * online shape: documents arrive as a stream, and a doc is flagged the
  * moment its MinHash signature collides with an ALREADY-SEEN doc in any
  * r=1 band bucket AND the pair clears the exact-size J* sketch margin —
  * i.e. the stream emits exactly the candidates the batch tier would send
  * to exact verification. That is what an ingest gate IS at 100 TB: the
  * cheap always-on sketch pass that quarantines likely re-fetches /
  * wrapped copies online, with the exact gram verify (dd22's split-side
  * `verifyContainment`) run downstream at merge time over the flagged
  * minority. A containment gate that needed the full gram sets in state
  * would hold the corpus text in the state store; this one holds
  * numHashes longs + one int per occupant.
  *
  * State layout (the scale-relevant part, st4's design): keyed by
  * (band, min-value) — NOT by doc — and each bucket's occupant list is
  * CAPPED at `maxBucket` (dd21's hot-bucket cap as an online admission
  * rule: the first `maxBucket` docs to claim a bucket are its permanent
  * occupants; later arrivals still PROBE the bucket but are not added).
  * Under id-ordered arrival this is bit-equal to the batch twin's
  * row_number-over-(band,v) cap — pinned in StreamContainmentSpec.
  *
  * Signatures use the EXACT dd21 algebra (word n-grams, md5-28 gram hash,
  * shared LCG family): [[sigOf]] is the Scala twin of
  * [[Dedup.estimateSigTable]]'s Column chain, equality pinned on real
  * docs in the spec, so the stream, the batch twin, dd21, dd22, and the
  * DuckDB oracle all share one signature definition.
  */
object StreamContainment {

  final case class BandedSig(band: Int, v: Long, doc: Long, n: Int, sig: Seq[Long])
  final case class Occ(doc: Long, n: Int, sig: Seq[Long])
  final case class ContainFlag(doc: Long, partner: Long, band: Int, cEst: Double)

  /** Scala twin of [[Dedup.estimateSigTable]]'s Column algebra, for use
    * inside typed streaming operators (a Column-side build would re-run
    * the md5 chain once per signature entry under projection collapse —
    * the dd21 lesson — and localCheckpoint barriers are not available on
    * a stream). Per stage: lower → split("\\s+") ≡ lower+split,
    * first-occurrence-distinct word n-grams over the same
    * greatest(len-n+1, 1) range ≡ wordGramsOfTk, md5 first-7-hex → long
    * ≡ conv(substring(md5, 1, 7), 16, 10), and min((h·a+b) mod p) over
    * the shared portableCoef family. Bit-equality with the Column chain
    * is pinned on real documents in StreamContainmentSpec. */
  private[streaming] def sigOf(text: String, n: Int = 3,
                               numHashes: Int = 32): (Int, Array[Long]) = {
    val tk = text.toLowerCase(Locale.ROOT).split("\\s+", -1)
    val upper = math.max(tk.length - (n - 1), 1)
    val grams = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i < upper) {
      grams.add(tk.slice(i, math.min(i + n, tk.length)).mkString(" "))
      i += 1
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    val hs = new Array[Long](grams.size)
    val it = grams.iterator()
    var g = 0
    while (it.hasNext) {
      val bytes = md.digest(it.next().getBytes(StandardCharsets.UTF_8))
      // first 7 hex chars = top 3.5 bytes
      var h = 0L
      var b = 0
      while (b < 4) {
        val hi = (bytes(b) >> 4) & 0xF
        val lo = bytes(b) & 0xF
        h = h * 16 + hi
        if (b < 3) h = h * 16 + lo else () // 7th hex digit is byte 3's high nibble
        b += 1
      }
      hs(g) = h
      g += 1
      md.reset()
    }
    val sig = Array.tabulate(numHashes) { k =>
      val (a, b) = Dedup.portableCoef(k)
      var mn = Long.MaxValue
      var j = 0
      while (j < hs.length) {
        val v = (hs(j) * a + b) % Dedup.portableP
        if (v < mn) mn = v
        j += 1
      }
      mn
    }
    (hs.length, sig)
  }

  /** The shared pair predicate + estimate: size-ratio bound and the
    * exact-size J* sketch margin of [[Dedup.containmentEstimatePairs]]
    * (2.5σ below the Jaccard a pair AT the containment threshold would
    * show), and the Broder containment estimate ĉ = ĵ(n1+n2)/((1+ĵ)·min),
    * floor-rounded to 4dp like the batch tier. */
  private def pairFlag(e: Occ, d: BandedSig, numHashes: Int,
                       minContainment: Double, maxSizeRatio: Double): Option[Double] = {
    val n1 = e.n.toDouble; val n2 = d.n.toDouble
    if (math.max(n1, n2) / math.min(n1, n2) > maxSizeRatio) return None
    var agree = 0
    var i = 0
    while (i < numHashes) {
      if (e.sig(i) == d.sig(i)) agree += 1
      i += 1
    }
    val jHat = agree.toDouble / numHashes
    val minN = math.min(n1, n2)
    val jStar = minContainment * minN / (n1 + n2 - minContainment * minN)
    val sigma = math.sqrt(jStar * (1.0 - jStar) / numHashes)
    if (jHat < jStar - 2.5 * sigma) None
    else Some(math.floor(jHat * (n1 + n2) / ((1.0 + jHat) * minN) * 10000 + 0.5) / 10000.0)
  }

  /** Streaming gate: append-mode flatMapGroupsWithState keyed by
    * (band, min-value). An arriving doc is compared against EVERY current
    * occupant regardless of id order: hits against smaller-id occupants
    * emit one ContainFlag naming the minimum such partner (the batch
    * twin's min-partner shape), and hits against LARGER-id occupants —
    * which only exist under out-of-order arrival — each emit a flag keyed
    * on that larger occupant (flag.doc is always the larger id of the
    * pair, flag.partner the smaller, matching the batch twin's
    * `partner < doc` orientation), so an early-arriving large id no
    * longer silences the pair. The cross-bucket / cross-emission minimum
    * is a downstream min (append mode cannot re-aggregate). Occupant
    * lists are capped at `maxBucket`.
    *
    * Residual arrival-order caveat (inherent to any capped ONLINE gate):
    * bucket ADMISSION is first-come — under out-of-order arrival the
    * first `maxBucket` arrivals occupy the bucket, whereas the batch
    * twin's row_number cap keeps the `maxBucket` SMALLEST ids. Pair
    * detection is order-independent whenever at least one side of the
    * pair is an occupant; only a pair where BOTH sides were refused
    * admission (bucket already full with `maxBucket` other docs) is
    * gate-invisible, same as in the batch twin.
    *
    * State budget: keys are (band, min-value) — at most `numHashes`
    * buckets per distinct signature, each occupant `numHashes` longs +
    * one int (~`8*numHashes+4` bytes; ~260 B at the default 32) — the
    * corpus TEXT never enters state, but key cardinality still grows
    * ~`numHashes` per distinct doc forever under the default
    * `stateTtlMs = None` (an always-on gate must remember old corpus to
    * flag re-fetches against it). For bounded-retention deployments pass
    * `stateTtlMs = Some(ms)`: buckets untouched (neither probed nor
    * appended to) for `ms` of processing time are evicted, trading
    * flags against corpus older than the TTL for a state store bounded
    * by the arrival rate × TTL window. */
  def flagStream(spark: SparkSession, docs: DataFrame, id: String = "doc_id",
                 text: String = "text", n: Int = 3, numHashes: Int = 32,
                 minContainment: Double = 0.5, maxSizeRatio: Double = 8.0,
                 maxBucket: Int = 100,
                 stateTtlMs: Option[Long] = None): Dataset[ContainFlag] = {
    import spark.implicits._
    val typed = docs.select(col(id).cast("long").as("doc"), col(text).as("text"))
      .as[(Long, String)]
    val banded = typed.flatMap { case (doc, txt) =>
      val (nG, sig) = sigOf(txt, n, numHashes)
      val s = sig.toSeq
      Iterator.tabulate(numHashes)(band => BandedSig(band, sig(band), doc, nG, s))
    }
    val timeout = if (stateTtlMs.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
                  else GroupStateTimeout.NoTimeout()
    banded.groupByKey(b => (b.band, b.v))
      .flatMapGroupsWithState[List[Occ], ContainFlag](
        OutputMode.Append(), timeout) {
        case ((band, _), ds, state: GroupState[List[Occ]]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var occupants = state.getOption.getOrElse(Nil)
            var nOcc = occupants.size
            val out = scala.collection.mutable.ArrayBuffer.empty[ContainFlag]
            ds.toSeq.sortBy(_.doc).foreach { d =>
              val hits = occupants.iterator
                .filter(_.doc != d.doc)
                .flatMap(e => pairFlag(e, d, numHashes, minContainment, maxSizeRatio)
                  .map(c => (e.doc, c)))
                .toSeq
              val (earlier, later) = hits.partition(_._1 < d.doc)
              if (earlier.nonEmpty) {
                val (p, c) = earlier.minBy(_._1)
                out += ContainFlag(d.doc, p, band, c)
              }
              // out-of-order arrival: the occupant has the larger id, so
              // the flag is keyed on IT (batch orientation partner < doc)
              later.foreach { case (p, c) => out += ContainFlag(p, d.doc, band, c) }
              if (nOcc < maxBucket) {
                occupants = Occ(d.doc, d.n, d.sig) :: occupants
                nOcc += 1
              }
            }
            state.update(occupants)
            stateTtlMs.foreach(state.setTimeoutDuration)
            out.iterator
          }
      }
  }

  /** Batch twin: (doc, partner, c_est) where partner is the minimum
    * smaller doc sharing ANY band bucket (among the bucket's first
    * `maxBucket` occupants by id) whose pair clears the sketch margin —
    * exactly the distinct-min over [[flagStream]]'s per-bucket flags
    * under id-ordered arrival, and expressible in SQL
    * ([[flaggedBatchOracleSql]]). */
  def flaggedBatch(docs: DataFrame, id: String = "doc_id", text: String = "text",
                   n: Int = 3, numHashes: Int = 32,
                   minContainment: Double = 0.5, maxSizeRatio: Double = 8.0,
                   maxBucket: Int = 100): DataFrame = {
    val sig = Dedup.estimateSigTable(docs, id, text, n, numHashes)
    val bk = sig.select(col("doc"), posexplode(col("sig")).as(Seq("band", "v")))
    val occ = bk.withColumn("rn", row_number().over(
        Window.partitionBy("band", "v").orderBy("doc")))
      .filter(col("rn") <= maxBucket)
      .select(col("band"), col("v"), col("doc").as("partner"))
    val pairs = bk.join(occ, Seq("band", "v"))
      .filter(col("partner") < col("doc"))
      .select(col("doc"), col("partner"))
      .distinct()
    val stats = sig.select(col("doc"), col("n"), col("sig"))
    Dedup.estimateFilter(pairs, "doc", "partner", stats, stats,
        numHashes, minContainment, maxSizeRatio)
      .groupBy("doc")
      .agg(min(struct(col("partner"), col("c_est"))).as("m"))
      .select(col("doc"), col("m.partner").as("partner"), col("m.c_est").as("c_est"))
  }

  /** DuckDB SQL computing the identical batch twin — the dd21 oracle
    * chain with the occupancy-cap window and the min-partner tail; every
    * constant from the same portableCoef family. */
  def flaggedBatchOracleSql(table: String, id: String, text: String,
                            n: Int = 3, numHashes: Int = 32,
                            minContainment: Double = 0.5,
                            maxSizeRatio: Double = 8.0,
                            maxBucket: Int = 100): String = {
    val minExprs = Dedup.portableMinsSql(numHashes)
    val bandRows = Dedup.portableBandRowsSql("mins", id, numHashes)
    val agreeSum = Dedup.portableAgreeSql(numHashes)
    s"""WITH grams AS (
       |  ${Dedup.wordGramsOracleSql(table, n, "gs", Seq(id), text)}),
       |sh AS (
       |  SELECT $id,
       |         ('0x' || substr(md5(unnest(gs)), 1, 7))::BIGINT AS h
       |  FROM grams),
       |szs AS (SELECT $id, len(gs)::INT AS n FROM grams),
       |mins AS (
       |  SELECT $id,
       |         $minExprs
       |  FROM sh GROUP BY $id),
       |bk AS (
       |  $bandRows),
       |occ AS (
       |  SELECT $id, band, v,
       |         row_number() OVER (PARTITION BY band, v ORDER BY $id) AS rn
       |  FROM bk),
       |pairs AS (
       |  SELECT DISTINCT p.$id AS doc, o.$id AS partner
       |  FROM bk p JOIN occ o
       |    ON p.band = o.band AND p.v = o.v
       |   AND o.rn <= $maxBucket AND o.$id < p.$id),
       |agr AS (
       |  SELECT pr.doc, pr.partner, na.n AS n1, nb.n AS n2,
       |         ($agreeSum)::INT AS agree
       |  FROM pairs pr
       |  JOIN szs na ON na.$id = pr.doc
       |  JOIN szs nb ON nb.$id = pr.partner
       |  JOIN mins sa ON sa.$id = pr.doc
       |  JOIN mins sb ON sb.$id = pr.partner
       |  WHERE greatest(na.n, nb.n)::DOUBLE / least(na.n, nb.n) <= $maxSizeRatio::DOUBLE),
       |flt AS (
       |  SELECT doc, partner, n1, n2,
       |         agree::DOUBLE / $numHashes AS jhat,
       |         ($minContainment::DOUBLE * least(n1, n2)::DOUBLE) /
       |           ((n1 + n2) - $minContainment::DOUBLE * least(n1, n2)::DOUBLE) AS jstar
       |  FROM agr),
       |kept AS (
       |  SELECT doc, partner,
       |         floor(jhat * (n1 + n2) / ((1.0::DOUBLE + jhat) * least(n1, n2)::DOUBLE)
       |               * 10000 + 0.5) / 10000.0 AS c_est
       |  FROM flt
       |  WHERE jhat >= jstar - 2.5::DOUBLE * sqrt(jstar * (1.0::DOUBLE - jstar) / $numHashes))
       |SELECT doc, partner, c_est FROM kept
       |QUALIFY row_number() OVER (PARTITION BY doc ORDER BY partner) = 1
       |ORDER BY doc""".stripMargin
  }
}
