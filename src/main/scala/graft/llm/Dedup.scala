package graft.llm

import graft.Ckpt._

import org.apache.spark.sql.{Column, DataFrame, Encoder, Row, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StructType}

/** One ranked partner for the bounded per-doc pair summary. */
case class OrdPid(ord: Double, pid: Long)

/** Bounded min-k typed aggregate (the [[Scored]]/TopKAgg pattern with an
  * explicit ASCENDING sort key): keeps the k smallest inputs by
  * (ord, pid). The buffer never exceeds k elements, so partial
  * aggregation keeps per-partition state O(k·docs) and the shuffle
  * carries only k rows per (doc, partition) — the bound that makes
  * [[Dedup.pairTopKPerDoc]]'s output independent of how quadratic the
  * pair set is. */
class MinKByAgg(k: Int) extends Aggregator[OrdPid, Seq[OrdPid], Seq[OrdPid]] {
  private def keep(xs: Seq[OrdPid]): Seq[OrdPid] =
    xs.sortBy(x => (x.ord, x.pid)).take(k)
  override def zero: Seq[OrdPid] = Vector.empty
  // keep() leaves the buffer sorted, so its last element is the current
  // worst — a full buffer rejects a loser in O(1)
  override def reduce(b: Seq[OrdPid], a: OrdPid): Seq[OrdPid] =
    if (b.size >= k && {
      val w = b.last
      a.ord > w.ord || (a.ord == w.ord && a.pid > w.pid)
    }) b
    else keep(b :+ a)
  override def merge(x: Seq[OrdPid], y: Seq[OrdPid]): Seq[OrdPid] = keep(x ++ y)
  override def finish(r: Seq[OrdPid]): Seq[OrdPid] = r
  override def bufferEncoder: Encoder[Seq[OrdPid]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[OrdPid]]()
  override def outputEncoder: Encoder[Seq[OrdPid]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[OrdPid]]()
}

/** Fused posting-list aggregate for the df-capped inverted indexes: ONE
  * hash-aggregate pass yields a group's exact row count (document
  * frequency / bucket size) AND its member list, with storage bounded at
  * `cap`+1 elements — a group whose count exceeds the cap keeps counting
  * but stops storing (its list is discarded at finish), so partial-
  * aggregation state stays O(cap) per key at ANY corpus size, exactly
  * the bound the old two-stage form (count aggregate → semi-join →
  * collect_set aggregate) enforced with a SECOND shuffle of the full
  * posting table. finish() returns `sort_array(collect_set(...))`
  * semantics for kept groups: sorted, deduped (duplicate ids only arise
  * under a violated unique-id precondition, where the old form also
  * degraded to df-miscounting — behavior preserved). */
case class DfDs(df: Long, ds: Seq[Long])

class CountCollectCapAgg(cap: Int)
    extends Aggregator[Long, (Long, Seq[Long]), DfDs] {
  override def zero: (Long, Seq[Long]) = (0L, Vector.empty)
  override def reduce(b: (Long, Seq[Long]), a: Long): (Long, Seq[Long]) =
    (b._1 + 1L, if (b._2.size <= cap) b._2 :+ a else b._2)
  override def merge(x: (Long, Seq[Long]), y: (Long, Seq[Long])): (Long, Seq[Long]) = {
    val c = x._1 + y._1
    val m =
      if (x._2.size > cap) x._2
      else if (y._2.size > cap) y._2
      else {
        val z = x._2 ++ y._2
        if (z.size > cap + 1) z.take(cap + 1) else z
      }
    (c, m)
  }
  override def finish(r: (Long, Seq[Long])): DfDs =
    DfDs(r._1, if (r._1 <= cap) r._2.sorted.distinct else Vector.empty)
  override def bufferEncoder: Encoder[(Long, Seq[Long])] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Long, Seq[Long])]()
  override def outputEncoder: Encoder[DfDs] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[DfDs]()
}

/** Deduplication operators for large-scale training-data pipelines.
  *
  * Scale discipline (the whole point at 100 TB):
  *  - exact dedup is a hash aggregate — partial+final, no shuffle of payloads,
  *    only (hash, id) pairs move;
  *  - near-dup NEVER does an all-pairs crossjoin. MinHash signatures are
  *    banded (LSH); candidate pairs are generated ONLY within equal
  *    (band, bucket) groups via a self-equi-join on the bucket key, which
  *    Spark executes as a shuffled hash join on a compact (bucket → id) table.
  *    Cost is Σ bucket² over buckets, linear-ish for realistic skew, versus
  *    n² for the naive join.
  *
  * Everything is built from codegen'd Column functions (sequence/transform/
  * xxhash64/array ops) — no Scala UDF in the hot path.
  */
object Dedup {

  /** Character k-shingles of `text`, distinct, lowercased. Pure Column expr. */
  def shingles(text: Column, k: Int): Column = {
    val t = lower(text)
    array_distinct(
      transform(
        sequence(lit(1), greatest(length(t) - (k - 1), lit(1))),
        i => t.substr(i, lit(k))))
  }

  /** Exact dedup: md5 content hash → keep the lowest id per hash.
    * Returns (hash, keep_id, cnt). */
  def exact(df: DataFrame, id: String, text: String): DataFrame =
    df.groupBy(md5(col(text)).as("h"))
      .agg(min(col(id)).as("keep_id"), count(lit(1)).as("cnt"))

  /** Rows that survive exact dedup (first id wins). */
  def exactSurvivors(df: DataFrame, id: String, text: String): DataFrame = {
    val keep = exact(df, id, text).select(col("keep_id").as(id))
    df.join(keep, Seq(id), "left_semi")
  }

  /** Rows of `df` that survive exact dedup and then pass the Gopher
    * quality gate ([[TextAnalysis.gopherRules]]), with `df`'s columns,
    * hash-partitioned on `id` over the shuffle partitions. The rows are
    * those of exact dedup after the gate: the members of an md5 group
    * share their text, so the gate passes all of them or none, and the
    * group's minimum id survives either way (up to an md5 collision,
    * which exact dedup already treats as equal text). Dedup first lets
    * the gate run once: [[exactSurvivors]] reads its input twice (the md5
    * aggregate and the semi-join's left side), so only the scan repeats.
    *
    * Two eager checkpoints. The survivors are [[spread]] because a
    * broadcast semi-join keeps its input's partitioning, which for a
    * single-row-group parquet file is one task; their checkpoint is the
    * barrier that keeps the gate on those partitions (the optimizer
    * pushes a filter below a repartition, back into the scan's task).
    * The gated rows are checkpointed for the several stages that read
    * them. */
  def gatedSurvivors(df: DataFrame, id: String, text: String): DataFrame = {
    val survivors = spread(exactSurvivors(df, id, text), col(id)).ckpt()
    TextAnalysis.gopherRules(survivors, text)
      .filter(col("gopher_pass")).select(df.columns.head, df.columns.tail: _*)
      .ckpt()
  }

  /** `df` hash-partitioned on `key` into the session's shuffle partition
    * count, for a CPU-bound per-row stage that follows. Unlike
    * `repartition(key)`, a fixed count is never coalesced by AQE: a small
    * input (a single-row-group scan, a candidate-sized semi-join) would
    * otherwise merge into one task and run the stage on one core. Above a
    * sort-merge join on the same key the exchange is already satisfied and
    * EnsureRequirements removes it, so large inputs pay nothing. */
  private[graft] def spread(df: DataFrame, key: Column): DataFrame =
    df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions, key)

  /** Banded-LSH candidate pairs: signature split into `bands` bands of
    * `rows` hashes; docs sharing any (band, band-hash) bucket become a
    * candidate pair (id1 < id2, distinct). Only (bucket, id) tuples are
    * shuffled — never document text. */
  def minhashCandidates(df: DataFrame, id: String, text: String,
                        k: Int = 5, bands: Int = 8, rows: Int = 4,
                        charShingles: Boolean = false): DataFrame =
    minhashCandidatesFromSig(
      signatures(df, id, text, k, bands * rows, charShingles), bands, rows)

  /** Signature table (doc, sig), locally checkpointed because both sides
    * of the candidate self-join and the verify joins reuse it (6 scans of
    * the corpus otherwise).
    *
    * The default (fast) path is the FUSED kernel (MinHashText): one pass
    * over the text BYTES, one hash per k-byte window plus cheap per-seed
    * long-mixes — no substring allocation, no intermediate shingle array,
    * no dedup (min is duplicate-insensitive). CAVEAT: windows are k BYTES,
    * not k characters. Identical for ASCII; for multi-byte text a k=5
    * window covers ~2 CJK characters, which shifts near-dup decisions on
    * non-ASCII corpora. Pass `charShingles = true` to shingle over true
    * CHARACTERS via the Column composition (xxhash64 over
    * [[shingles]]) — same signature algebra, ~2-5x slower. */
  def signatures(df: DataFrame, id: String, text: String, k: Int, numHashes: Int,
                 charShingles: Boolean = false): DataFrame = {
    val sig =
      if (charShingles)
        graft.functions.MinHashFromHashes(
          transform(shingles(col(text), k), s => xxhash64(s)), numHashes)
      else graft.functions.MinHashText(lower(col(text)), k, numHashes)
    df.select(col(id).as("doc"), sig.as("sig")).ckpt()
  }

  def minhashCandidatesFromSig(sig: DataFrame, bands: Int, rows: Int): DataFrame =
    bucketPairs(sig, sigBands(bands, rows).map(xxhash64(_)))

  /** The `bands` band keys of a `sig` column: `rows` consecutive
    * signature entries each, raw (hash them for a compact bucket key). */
  private[graft] def sigBands(bands: Int, rows: Int): Seq[Column] =
    (0 until bands).map(b => slice(col("sig"), b * rows + 1, rows))

  /** One row per (doc, band) of `df`: its `doc` and `carry` columns, the
    * band index `band` and that band's bucket `key` (`keys(band)`). */
  private def bucketRows(df: DataFrame, keys: Seq[Column],
                         carry: Seq[String] = Nil): DataFrame = {
    val kept = ("doc" +: carry).map(col)
    df.select(kept :+ explode(array(keys.zipWithIndex.map { case (k, b) =>
        struct(lit(b).as("band"), k.as("key"))
      }: _*)).as("bb"): _*)
      .select(kept :+ col("bb.band").as("band") :+ col("bb.key").as("key"): _*)
  }

  /** The bucket self-join behind every banded candidate stage: docs of
    * `df` sharing any (band, key) bucket of [[bucketRows]] become
    * distinct (id1 < id2) pairs. Only (bucket, doc) tuples shuffle. `pair`
    * columns are computed over the joined sides `a`/`b` (which hold the
    * `carry` columns), and `keep` filters the pairs BEFORE the distinct:
    * a pair-determined filter gives the same distinct set, and the dedup
    * shuffle then carries only kept pairs. */
  private[graft] def bucketPairs(df: DataFrame, keys: Seq[Column],
                                 carry: Seq[String] = Nil, pair: Seq[Column] = Nil,
                                 keep: Option[Column] = None): DataFrame = {
    val rows = bucketRows(df, keys, carry)
    val pairs = rows.as("a").join(rows.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("id1") +: col("b.doc").as("id2") +: pair: _*)
    keep.fold(pairs)(pairs.filter).distinct()
  }

  /** Verify candidates with true shingle Jaccard; keep pairs >= threshold.
    *
    * Two-stage verify: band-bucket collisions first get a CHEAP estimated
    * Jaccard (fraction of equal signature components — unbiased MinHash
    * estimator) and only pairs whose estimate clears `threshold - margin`
    * pay the exact shingle intersect/union. Shingle arrays (hundreds of
    * strings each) therefore only join for plausible pairs; the signature
    * join moves `numHashes` longs per doc.
    *
    * `estMargin < 0` (the default) sizes the margin from the estimator's
    * own standard deviation, 1.5·sqrt(t(1−t)/numHashes) — ~0.13 at t=0.5
    * with 32 hashes. A pair whose TRUE Jaccard sits exactly at the
    * threshold is missed with P≈7% (Φ(−1.5)); anything meaningfully above
    * passes essentially always, while candidates far below the threshold
    * (the bulk, on a shared-vocabulary corpus) never reach the expensive
    * array join. A fixed wider margin trades verify cost for the tail.
    *
    * NOTE (since the fused kernels): both signatures and the exact verify
    * shingle over k BYTES by default — identical to character shingles for
    * ASCII, different for multi-byte text (see [[signatures]]). Set
    * `charShingles = true` for character-exact semantics on non-ASCII
    * corpora. NOTE (estMargin): the default changed from a fixed 0.2 to
    * the ~1.5-sigma adaptive margin below; default-arg callers get a
    * slightly tighter candidate set (threshold-grazing pairs missed ~7%
    * of the time instead of ~never) in exchange for a much cheaper exact
    * verify. Pass estMargin = 0.2 to restore the old recall posture. */
  def minhashDedup(df: DataFrame, id: String, text: String,
                   k: Int = 5, bands: Int = 8, rows: Int = 4,
                   threshold: Double = 0.8, estMargin: Double = -1,
                   charShingles: Boolean = false): DataFrame = {
    val numHashes = bands * rows
    val margin =
      if (estMargin >= 0) estMargin
      else 1.5 * math.sqrt(threshold * (1 - threshold) / numHashes)
    val sig = signatures(df, id, text, k, numHashes, charShingles) // checkpointed: reused 4x below
    val cands = minhashCandidatesFromSig(sig, bands, rows)
    val estimated = cands
      .join(sig.select(col("doc").as("id1"), col("sig").as("sig1")), "id1")
      .join(sig.select(col("doc").as("id2"), col("sig").as("sig2")), "id2")
      .withColumn("est",
        graft.functions.AgreeCount(col("sig1"), col("sig2")).cast("double") / numHashes)
      .filter(col("est") >= threshold - margin)
      .select("id1", "id2")
    // exact verify over HASHED shingles: long-array intersect/union is
    // several times cheaper than string sets, and exact up to negligible
    // 64-bit collisions. The fused ShingleHashes kernel produces the
    // distinct hash set in one pass over the text bytes.
    val sh = df.select(col(id),
      (if (charShingles) transform(shingles(col(text), k), s => xxhash64(s))
       else graft.functions.ShingleHashes(lower(col(text)), k): Column).as("sh"))
    estimated
      .join(sh.select(col(id).as("id1"), col("sh").as("sh1")), "id1")
      .join(sh.select(col(id).as("id2"), col("sh").as("sh2")), "id2")
      // count-only set sizes (one hash-set pass, SetSizesSpec pins ≡
      // size(array_intersect)/size(array_union)): the builtins build and
      // discard two result arrays per candidate pair just to be counted
      .withColumn("__iu", graft.functions.SetSizes(col("sh1"), col("sh2")))
      .withColumn("jaccard",
        col("__iu.inter").cast("double") / col("__iu.union"))
      .filter(col("jaccard") >= threshold)
      .select("id1", "id2", "jaccard")
  }

  /** SimHash (64-bit): per word-token hash, each bit votes +1/-1 weighted by
    * term frequency; the sign per bit position forms the fingerprint.
    * Implemented as explode → 64 conditional sums → bit reassembly — a single
    * partial+final aggregate, no UDF. */
  def simhash(df: DataFrame, id: String, text: String): DataFrame = {
    val tokens = df.select(col(id),
      explode(split(lower(col(text)), "\\s+")).as("tok"))
      .withColumn("h", xxhash64(col("tok")))
    val bitSums = (0 until 64).map { i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$i")
    }
    val summed = tokens.groupBy(col(id)).agg(bitSums.head, bitSums.tail: _*)
    val fp = (0 until 64).map { i =>
      when(col(s"b$i") > 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
    summed.select(col(id), fp.as("simhash"))
  }

  /** k-universal coefficient pairs for the portable MinHash family, shared
    * verbatim by the Spark and DuckDB sides. Domain is 28 bits (7 hex
    * digits of md5) so a*h + b stays far below 2^63 in both engines.
    * Canonical definition lives in the fused kernel — delegated here so
    * the kernel, the Column algebra, and the oracle SQL cannot drift. */
  private[graft] val portableP = graft.functions.MinHashKernel.PORTABLE_P
  private[graft] def portableCoef(i: Int): (Long, Long) =
    graft.functions.MinHashKernel.portableCoef(i)

  /** DuckDB select list of the portable MinHash sketch over a 28-bit
    * base-hash column `h`: `min((h * a + b) % p) AS m$i` per member. */
  private[graft] def portableMinsSql(numHashes: Int): String =
    (0 until numHashes).map { i =>
      val (a, b) = portableCoef(i)
      s"min((h * $a + $b) % $portableP) AS m$i"
    }.mkString(",\n         ")

  /** DuckDB count of the sketch slots on which `sa` and `sb` agree. */
  private[graft] def portableAgreeSql(numHashes: Int): String =
    (0 until numHashes).map(i => s"CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END")
      .mkString(" + ")

  /** DuckDB r=1 band rows `(id, band, v)` of the sketch table `src`. */
  private[graft] def portableBandRowsSql(src: String, id: String, numHashes: Int): String =
    (0 until numHashes).map(i => s"SELECT $id, $i AS band, m$i AS v FROM $src")
      .mkString("\n  UNION ALL\n  ")

  /** Portable MinHash signature columns (m0..m{n-1}): ONE md5-derived
    * 28-bit base hash per shingle, then per-seed k-universal transforms
    * min((a_i·h + b_i) mod p) — bit-exact across engines (the SQL twin is
    * `minhashPortableOracleSql`), so the signature algebra itself is
    * oracle-checkable, at one md5 per shingle instead of numHashes. The
    * fast path stays on the native xxhash64 MinHashSignature expression;
    * the narrower 28-bit domain only matters to these proof queries. */
  def minhashPortable(df: DataFrame, id: String, text: String,
                      k: Int = 5, numHashes: Int = 8): DataFrame = {
    // fused native kernel (functions/MinHashExpr.portableSignature):
    // bit-identical to the explode + md5-hex + conv + groupBy-min Column
    // algebra (property-pinned in MinHashExprSpec), with no hex-string
    // allocation and NO shuffle — the signature is computed per row.
    // The isNotNull filter preserves the explode form's drop-null-text
    // semantics.
    val sig = graft.functions.PortableMinHash(col(text), k, numHashes)
    df.filter(col(text).isNotNull)
      .select(col(id), sig.as("__sig"))
      .select(col(id) +: (0 until numHashes).map(i =>
        element_at(col("__sig"), i + 1).as(s"m$i")): _*)
  }

  /** DuckDB SQL computing the identical portable MinHash signature. */
  def minhashPortableOracleSql(table: String, id: String, text: String,
                               k: Int = 5, numHashes: Int = 8): String = {
    val mins = portableMinsSql(numHashes)
    s"""WITH base AS (SELECT $id, lower($text) AS t FROM $table),
       |sh AS (
       |  SELECT $id,
       |         ('0x' || substr(md5(substr(t, i, $k)), 1, 7))::BIGINT AS h
       |  FROM (SELECT $id, t,
       |          unnest(generate_series(1, greatest(length(t) - ${k - 1}, 1)))::INT AS i
       |        FROM base)),
       |mins AS (
       |  SELECT $id,
       |         $mins
       |  FROM sh GROUP BY $id)
       |SELECT * FROM mins ORDER BY $id""".stripMargin
  }

  /** Portable banded-LSH candidate pairs over the portable signature:
    * 4 bands × 2 hashes; a pair is a candidate if ANY band matches exactly.
    * Same join-only shape as minhashCandidates, but every value is
    * md5-derived so the pairing logic itself is oracle-checkable. */
  def minhashCandidatesPortable(df: DataFrame, id: String, text: String, k: Int = 5): DataFrame = {
    // checkpointed: the four band self-joins otherwise re-run the md5
    // signature build eight times (once per join side)
    val sig = minhashPortable(df, id, text, k, numHashes = 8).ckpt()
    val bands = Seq(Seq("m0", "m1"), Seq("m2", "m3"), Seq("m4", "m5"), Seq("m6", "m7"))
    bands.map { cols =>
      val a = sig.as("a"); val b = sig.as("b")
      val cond = cols.map(c => col(s"a.$c") === col(s"b.$c")).reduce(_ && _) &&
        col(s"a.$id") < col(s"b.$id")
      a.join(b, cond).select(col(s"a.$id").as("id1"), col(s"b.$id").as("id2"))
    }.reduce(_ union _).distinct()
  }

  /** DuckDB SQL for the identical portable candidate pairs. */
  def minhashCandidatesPortableOracleSql(table: String, id: String, text: String,
                                         k: Int = 5): String = {
    val mins = minhashPortableOracleSql(table, id, text, k, 8)
    val bandJoins = Seq(("m0", "m1"), ("m2", "m3"), ("m4", "m5"), ("m6", "m7")).map {
      case (x, y) =>
        s"""SELECT a.$id AS id1, b.$id AS id2 FROM mins a JOIN mins b
           |  ON a.$x = b.$x AND a.$y = b.$y AND a.$id < b.$id""".stripMargin
    }.mkString("\nUNION\n")
    s"""WITH mins AS ($mins)
       |SELECT DISTINCT id1, id2 FROM (
       |$bandJoins)
       |ORDER BY id1, id2""".stripMargin
  }

  /** Corpus-level overlap between sources: exact shingle-set Jaccard AND
    * its MinHash-sketch estimate, side by side per source pair. The
    * sketch column is the 100 TB path — a corpus-level signature is just
    * the component-wise MIN over the per-doc minima, so each source
    * reduces to `numHashes` longs no matter how many petabytes it spans,
    * and cross-corpus similarity becomes a constant-size comparison. The
    * exact columns (linear inverted index, never a doc×doc join) are what
    * makes the estimator itself oracle-checkable: both columns replay
    * bit-for-bit in DuckDB via the portable md5-28 shingle family
    * ([[corpusOverlapOracleSql]]), so this is the rare query where a
    * SKETCH'S accuracy is hash-checked against its own ground truth.
    *
    * Scale shape: one fused-kernel pass per doc (no per-shingle explode
    * of un-hashed strings), one (source, hash) dedup, one equi-join on
    * hash for intersections; source cardinality is dim-sized, so the
    * pair frame and both size joins broadcast. */
  def corpusOverlap(df: DataFrame, source: String, text: String,
                    k: Int = 5, numHashes: Int = 32): DataFrame = {
    // (source, shingle-hash) inverted index — `h` is the md5-28 base the
    // whole portable family shares; distinct once, reused three times
    val sh = df.filter(col(text).isNotNull)
      .select(col(source).as("s"),
        explode(graft.functions.PortableShingleHashes(col(text), k)).as("h"))
      .distinct()
      .ckpt()
    val sizes = sh.groupBy("s").agg(count(lit(1)).as("n"))
    val inter = sh.as("a").join(sh.as("b"),
        col("a.h") === col("b.h") && col("a.s") < col("b.s"))
      .groupBy(col("a.s").as("source1"), col("b.s").as("source2"))
      .agg(count(lit(1)).as("inter"))
    // corpus sketch: min over the source's distinct hashes per family member
    val minCols = (0 until numHashes).map { i =>
      val (a, b) = portableCoef(i)
      min((col("h") * a + b) % portableP).as(s"m$i")
    }
    val mins = sh.groupBy("s").agg(minCols.head, minCols.tail: _*)
    val matches = (0 until numHashes)
      .map(i => when(col(s"x.m$i") === col(s"y.m$i"), 1).otherwise(0): Column)
      .reduce(_ + _)
    val est = mins.as("x").join(mins.as("y"), col("x.s") < col("y.s"))
      .select(col("x.s").as("source1"), col("y.s").as("source2"),
        (matches.cast("double") / numHashes).as("est"))
    est
      .join(broadcast(inter), Seq("source1", "source2"), "left")
      .join(broadcast(sizes.select(col("s").as("source1"), col("n").as("n1"))), "source1")
      .join(broadcast(sizes.select(col("s").as("source2"), col("n").as("n2"))), "source2")
      .select(col("source1"), col("source2"), col("n1"), col("n2"),
        coalesce(col("inter"), lit(0L)).as("inter"),
        round(coalesce(col("inter"), lit(0L)).cast("double") /
          (col("n1") + col("n2") - coalesce(col("inter"), lit(0L))), 6).as("jaccard"),
        round(col("est"), 6).as("est_jaccard"))
  }

  /** DuckDB SQL computing [[corpusOverlap]] bit-for-bit. */
  def corpusOverlapOracleSql(table: String, source: String, text: String,
                             k: Int = 5, numHashes: Int = 32): String = {
    val mins = portableMinsSql(numHashes)
    val matches = (0 until numHashes)
      .map(i => s"(CASE WHEN x.m$i = y.m$i THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH base AS (
       |  SELECT $source AS s, lower($text) AS t FROM $table WHERE $text IS NOT NULL),
       |sh AS MATERIALIZED (
       |  SELECT DISTINCT s,
       |         ('0x' || substr(md5(substr(t, i, $k)), 1, 7))::BIGINT AS h
       |  FROM (SELECT s, t,
       |          unnest(generate_series(1, greatest(length(t) - ${k - 1}, 1)))::INT AS i
       |        FROM base)),
       |sizes AS (SELECT s, count(*) AS n FROM sh GROUP BY 1),
       |inter AS (
       |  SELECT a.s AS s1, b.s AS s2, count(*) AS inter
       |  FROM sh a JOIN sh b ON a.h = b.h AND a.s < b.s GROUP BY 1, 2),
       |mins AS (
       |  SELECT s,
       |         $mins
       |  FROM sh GROUP BY 1),
       |pairs AS (
       |  SELECT x.s AS s1, y.s AS s2, ($matches)::DOUBLE / $numHashes AS est
       |  FROM mins x JOIN mins y ON x.s < y.s)
       |SELECT p.s1 AS source1, p.s2 AS source2,
       |       z1.n::BIGINT AS n1, z2.n::BIGINT AS n2,
       |       COALESCE(i.inter, 0)::BIGINT AS inter,
       |       round(COALESCE(i.inter, 0) / (z1.n + z2.n - COALESCE(i.inter, 0)), 6) AS jaccard,
       |       round(p.est, 6) AS est_jaccard
       |FROM pairs p
       |JOIN sizes z1 ON p.s1 = z1.s JOIN sizes z2 ON p.s2 = z2.s
       |LEFT JOIN inter i ON p.s1 = i.s1 AND p.s2 = i.s2
       |ORDER BY source1, source2""".stripMargin
  }

  /** Content-defined-chunk dedup ledger: CDC-chunk every document
    * (functions/CdcExpr.scala — boundaries re-sync after edits, so shared
    * runs between near-identical documents yield identical chunks), then
    * group by chunk hash. One row per chunk seen ≥ 2 times, with the
    * characters a chunk-store would save. The whole pipeline is one
    * fused-kernel projection + explode + hash aggregate — linear in
    * corpus size, no pair joins, partial aggregation map-side. */
  def cdcChunkDedup(df: DataFrame, text: String,
                    w: Int = 16, maskBits: Int = 5): DataFrame = {
    df.filter(col(text).isNotNull)
      .select(explode(graft.functions.CdcChunks(col(text), w, maskBits)).as("c"))
      .select(col("c.hash").as("h"), col("c.len").as("len"))
      .groupBy("h")
      // len is content-determined (same hash ⇒ same chunk text), max() is
      // just the shuffle-safe way to carry it through the aggregate
      .agg(max("len").cast("long").as("len"), count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2)
      .select(col("h"), col("len"), col("cnt"),
        ((col("cnt") - 1) * col("len")).as("saved_chars"))
  }

  /** DuckDB SQL computing [[cdcChunkDedup]] bit-for-bit: boundary
    * positions via generate_series + the md5-28 window hash, chunk
    * reconstruction via lag() over the boundary list, chunk ids via the
    * 60-bit md5 prefix. */
  def cdcChunkOracleSql(table: String, text: String,
                        w: Int = 16, maskBits: Int = 5): String = {
    val mask = 1L << maskBits
    s"""WITH base AS (
       |  SELECT row_number() OVER () AS rid, $text AS t, length($text) AS n
       |  FROM $table WHERE $text IS NOT NULL AND length($text) > 0),
       |pos AS (SELECT rid, t, n, unnest(generate_series($w, n))::INT AS i FROM base),
       |bnd AS (
       |  SELECT rid, i FROM pos
       |  WHERE ('0x' || substr(md5(substr(t, i - ${w - 1}, $w)), 1, 7))::BIGINT % $mask = 0),
       |allb AS (
       |  SELECT DISTINCT rid, i FROM (
       |    SELECT rid, i FROM bnd UNION ALL SELECT rid, n FROM base)),
       |chunks AS (
       |  SELECT rid,
       |         COALESCE(lag(i) OVER (PARTITION BY rid ORDER BY i), 0) + 1 AS start,
       |         i AS fin
       |  FROM allb),
       |hashed AS (
       |  SELECT ('0x' || substr(md5(substr(b.t, c.start, c.fin - c.start + 1)), 1, 15))::BIGINT AS h,
       |         c.fin - c.start + 1 AS len
       |  FROM chunks c JOIN base b USING (rid))
       |SELECT h, max(len)::BIGINT AS len, count(*)::BIGINT AS cnt,
       |       ((count(*) - 1) * max(len))::BIGINT AS saved_chars
       |FROM hashed GROUP BY h HAVING count(*) >= 2 ORDER BY h""".stripMargin
  }

  /** Incremental CDC dedup — the steady-state form of [[cdcChunkDedup]]
    * (dd9 exact / dd11 near-dup lifted to the chunk level): a new batch's
    * chunks are anti-joined against the corpus's distinct chunk-hash set
    * (the persisted chunk store at scale), yielding per-document novelty
    * — how many chunks/chars a chunk-store ingest would actually write
    * vs deduplicate away. Crawl re-fetches and boilerplate-heavy pages
    * score near-zero novelty and can be dropped before any expensive
    * processing. One kernel pass over each side, one hash anti-join;
    * nothing pairwise. */
  def cdcIncremental(df: DataFrame, id: String, text: String, isNew: Column,
                     w: Int = 16, maskBits: Int = 5): DataFrame = {
    val chunks = df.filter(col(text).isNotNull)
      .select(col(id), isNew.as("is_new"),
        explode(graft.functions.CdcChunks(col(text), w, maskBits)).as("c"))
      .select(col(id), col("is_new"), col("c.hash").as("h"), col("c.len").as("len"))
      .ckpt() // both sides below read the one chunking pass
    val corpus = chunks.filter(!col("is_new")).select("h").distinct()
    val batch = chunks.filter(col("is_new"))
    val novel = batch.join(corpus, Seq("h"), "left_anti")
      .groupBy(col(id))
      .agg(count(lit(1)).as("novel_chunks"), sum("len").as("novel_chars"))
    batch.groupBy(col(id))
      .agg(count(lit(1)).as("chunks"), sum("len").as("chars"))
      .join(novel, Seq(id), "left")
      .select(col(id), col("chunks"), col("chars").cast("long").as("chars"),
        coalesce(col("novel_chunks"), lit(0L)).as("novel_chunks"),
        coalesce(col("novel_chars"), lit(0L)).cast("long").as("novel_chars"),
        // floor(x·10⁶+0.5)/10⁶, not round(): Spark/DuckDB round() half-tie
        // semantics diverge on integer ratios (the ts19 incident class)
        (floor((lit(1.0) - coalesce(col("novel_chars"), lit(0L)) /
          col("chars").cast("double")) * 1000000 + 0.5) / 1000000.0).as("reuse_ratio"))
  }

  /** DuckDB SQL computing [[cdcIncremental]] bit-for-bit over
    * `table`, with `newPred` selecting the batch side. */
  def cdcIncrementalOracleSql(table: String, id: String, text: String,
                              newPred: String,
                              w: Int = 16, maskBits: Int = 5): String = {
    val mask = 1L << maskBits
    s"""WITH base AS (
       |  SELECT $id, ($newPred) AS is_new, $text AS t, length($text) AS n
       |  FROM $table WHERE $text IS NOT NULL AND length($text) > 0),
       |pos AS (SELECT $id, t, n, unnest(generate_series($w, n))::INT AS i FROM base),
       |bnd AS (
       |  SELECT $id, i FROM pos
       |  WHERE ('0x' || substr(md5(substr(t, i - ${w - 1}, $w)), 1, 7))::BIGINT % $mask = 0),
       |allb AS (
       |  SELECT DISTINCT $id, i FROM (
       |    SELECT $id, i FROM bnd UNION ALL SELECT $id, n FROM base)),
       |chunks AS (
       |  SELECT b.$id, b.is_new,
       |         ('0x' || substr(md5(substr(b.t, c.start, c.len)), 1, 15))::BIGINT AS h,
       |         c.len
       |  FROM (
       |    SELECT $id,
       |           COALESCE(lag(i) OVER (PARTITION BY $id ORDER BY i), 0) + 1 AS start,
       |           i - COALESCE(lag(i) OVER (PARTITION BY $id ORDER BY i), 0) AS len
       |    FROM allb) c JOIN base b USING ($id)),
       |corpus AS (SELECT DISTINCT h FROM chunks WHERE NOT is_new),
       |batch AS (SELECT * FROM chunks WHERE is_new),
       |novel AS (
       |  SELECT $id, count(*)::BIGINT AS novel_chunks, sum(len)::BIGINT AS novel_chars
       |  FROM batch WHERE h NOT IN (SELECT h FROM corpus) GROUP BY 1),
       |tot AS (
       |  SELECT $id, count(*)::BIGINT AS chunks, sum(len)::BIGINT AS chars
       |  FROM batch GROUP BY 1)
       |SELECT t.$id, t.chunks, t.chars,
       |       COALESCE(n.novel_chunks, 0) AS novel_chunks,
       |       COALESCE(n.novel_chars, 0) AS novel_chars,
       |       floor((1.0 - COALESCE(n.novel_chars, 0) / (t.chars * 1.0)) * 1000000 + 0.5) / 1000000.0 AS reuse_ratio
       |FROM tot t LEFT JOIN novel n USING ($id) ORDER BY t.$id""".stripMargin
  }

  /** Portable SimHash (60-bit): identical to `simhash` but the token hash
    * is the first 15 hex digits of md5 — computable bit-for-bit by any
    * engine, so the fingerprint itself is oracle-checkable. Tokens split on
    * a single space to keep both sides' tokenization identical. */
  def simhashPortable(df: DataFrame, id: String, text: String): DataFrame =
    // fused native kernel (functions/MinHashExpr.portableSimhash):
    // bit-identical to the explode + md5-hex + 60-column vote aggregate
    // it replaces (property-pinned in MinHashExprSpec) with NO shuffle;
    // isNotNull preserves the explode form's drop-null-text semantics
    df.filter(col(text).isNotNull)
      .select(col(id), graft.functions.PortableSimHash(col(text)).as("simhash"))

  /** DuckDB SQL computing the identical 60-bit portable SimHash. */
  def simhashPortableOracleSql(table: String, id: String, text: String): String = {
    val sums = (0 until 60).map { i =>
      s"sum(CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS b$i"
    }.mkString(",\n         ")
    val combine = (0 until 60).map { i =>
      s"(CASE WHEN b$i > 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH tok0 AS (
       |  SELECT $id, unnest(string_split(lower($text), ' ')) AS tok FROM $table),
       |toks AS (
       |  SELECT $id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM tok0),
       |sums AS (
       |  SELECT $id,
       |         $sums
       |  FROM toks GROUP BY $id)
       |SELECT $id, ($combine)::BIGINT AS simhash FROM sums ORDER BY $id""".stripMargin
  }

  /** Near-dup pairs by SimHash hamming distance <= maxDist, bucketed by the
    * 4 16-bit chunks (pigeonhole: any pair within distance 3 shares at least
    * one exact chunk) — again no all-pairs join. */
  def simhashCandidates(df: DataFrame, id: String, text: String, maxDist: Int = 3): DataFrame =
    simhashPairs(simhash(df, id, text), id, 16, maxDist)

  /** The 4 pigeonhole chunks of a `simhash` column, `bits` wide each: 16
    * over the 64-bit xxhash64 fingerprint, 15 over the portable 60-bit one
    * (mirrored by the portable oracles' `(simhash >> (c*15)) & 32767`). */
  private def simhashChunks(bits: Int): Seq[Column] =
    (0 until 4).map(c => shiftright(col("simhash"), c * bits).bitwiseAND((1L << bits) - 1))

  /** Fingerprint pairs sharing any `bits`-wide chunk, with their Hamming
    * distance, kept at `dist <= maxDist`. */
  private def simhashPairs(fp: DataFrame, id: String, bits: Int, maxDist: Int): DataFrame =
    bucketPairs(fp.select(col(id).as("doc"), col("simhash")), simhashChunks(bits),
      carry = Seq("simhash"),
      pair = Seq(bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("dist")),
      keep = Some(col("dist") <= maxDist))

  /** [[simhashCandidates]] over the PORTABLE 60-bit fingerprint
    * ([[simhashPortable]]): 4 pigeonhole chunks of 15 bits, pairs sharing
    * any exact chunk scored by Hamming distance, kept at `dist <= maxDist`.
    * Every value is md5-derived, so the bucketing + distance machinery
    * replays bit-for-bit in DuckDB ([[simhashCandidatesPortableOracleSql]])
    * — the hash-green twin of the xxhash64 fast path. Recall contract is
    * the fast path's: 4 chunks GUARANTEE any pair within distance 3 shares
    * a chunk; above that the chunk share is heuristic (same posture as
    * dd4's maxDist=10). */
  def simhashCandidatesPortable(df: DataFrame, id: String, text: String,
                                maxDist: Int = 10): DataFrame =
    // checkpointed: the chunk self-join otherwise rebuilds the md5
    // fingerprint aggregate once per join side
    simhashPairs(simhashPortable(df, id, text).ckpt(), id, 15, maxDist)

  /** DuckDB SQL producing [[simhashCandidatesPortable]]'s (id1, id2, dist)
    * set bit-for-bit (no ORDER BY — meant for CTE composition). */
  def simhashCandidatesPortableOracleSql(table: String, id: String, text: String,
                                         maxDist: Int = 10): String = {
    val fp = simhashPortableOracleSql(table, id, text)
    s"""WITH fps AS ($fp),
       |chunks AS (
       |  SELECT $id AS doc, simhash, cc.c,
       |         (simhash >> (cc.c * 15)) & 32767 AS ckey
       |  FROM fps CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS c) cc)
       |SELECT DISTINCT a.doc AS id1, b.doc AS id2,
       |       bit_count(xor(a.simhash, b.simhash))::INT AS dist
       |FROM chunks a JOIN chunks b
       |  ON a.c = b.c AND a.ckey = b.ckey AND a.doc < b.doc
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= $maxDist""".stripMargin
  }

  /** SimHash banding health probe — the containmentDiagnostics (dd23)
    * posture for the Hamming tier. Before enumerating chunk-bucket pairs,
    * a caller (or an operator gate) asks whether the fingerprint space is
    * SATURATED for this corpus: per-(chunk, bucket) occupancy gives the
    * EXACT number of raw pair enumerations the chunk join will perform
    * (Σ n·(n−1)/2), at the cost of one aggregate over 4·n rows — no pair
    * is ever materialized. In a heavy-tail vocabulary the dominant words
    * drive every document's sign bits the same way, fingerprints cluster,
    * and the measured zipf-1× corpus puts 4.6% of ALL doc pairs within
    * Hamming 10 (58M candidates from 50k docs) — a regime where
    * distance-10 "near-dup evidence" is corpus-generic, not duplication,
    * and the right move is a smaller maxDist or the dd6 component path.
    * `saturated` flags bucket_pairs/doc above `pairBudgetPerDoc`.
    *
    * Output (one row): n_docs, n_distinct_fp, bucket_pairs, max_bucket,
    * pairs_per_doc (4dp), saturated. Every value replays in DuckDB
    * ([[simhashDiagnosticsOracleSql]]). */
  def simhashDiagnostics(df: DataFrame, id: String, text: String,
                         pairBudgetPerDoc: Double = 100.0): DataFrame = {
    val fp = simhashPortable(df, id, text).ckpt()
    val buckets = bucketRows(fp.select(col(id).as("doc"), col("simhash")), simhashChunks(15))
      .groupBy("band", "key").agg(count(lit(1)).as("n"))
    val fpAgg = fp.agg(count(lit(1)).as("n_docs"),
      countDistinct(col("simhash")).as("n_distinct_fp"))
    val bAgg = buckets.agg(
      sum((col("n") * (col("n") - 1) / 2).cast("long")).as("bucket_pairs"),
      max(col("n")).as("max_bucket"))
    fpAgg.crossJoin(bAgg).select(
      col("n_docs"), col("n_distinct_fp"), col("bucket_pairs"), col("max_bucket"),
      round(col("bucket_pairs") / col("n_docs"), 4).as("pairs_per_doc"),
      (col("bucket_pairs") / col("n_docs") > pairBudgetPerDoc).as("saturated"))
  }

  /** DuckDB twin of [[simhashDiagnostics]]. */
  def simhashDiagnosticsOracleSql(table: String, id: String, text: String,
                                  pairBudgetPerDoc: Double = 100.0): String = {
    val fpSql = simhashPortableOracleSql(table, id, text)
    s"""WITH fps AS ($fpSql),
       |chunks AS (
       |  SELECT $id AS doc, simhash, cc.c,
       |         (simhash >> (cc.c * 15)) & 32767 AS ckey
       |  FROM fps CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS c) cc),
       |b AS (SELECT c, ckey, count(*) AS n FROM chunks GROUP BY 1, 2),
       |s AS (SELECT sum(n * (n - 1) // 2)::BIGINT AS bucket_pairs,
       |             max(n)::BIGINT AS max_bucket FROM b),
       |d AS (SELECT count(*)::BIGINT AS n_docs,
       |             count(DISTINCT simhash)::BIGINT AS n_distinct_fp FROM fps)
       |SELECT d.n_docs, d.n_distinct_fp, s.bucket_pairs, s.max_bucket,
       |       round(s.bucket_pairs / (d.n_docs * 1.0), 4) AS pairs_per_doc,
       |       s.bucket_pairs / (d.n_docs * 1.0) > $pairBudgetPerDoc AS saturated
       |FROM d, s""".stripMargin
  }

  /** Output-bounded per-doc summary of a symmetric candidate/pair listing
    * — the 100 TB-safe way to ask "show me the near-dup evidence". The
    * unbounded pair listings grow quadratically in cluster size by
    * contract (at gen-1× the SimHash listing's ANSWER is 71.5 M rows and
    * the bench tail was the global sort of that answer); a caller who
    * wants evidence per document must never have to materialize them.
    *
    * For each doc appearing on either side of `pairs`, emits its total
    * partner count and its k best partners by (`ord` ASC, partner ASC) —
    * one row per (doc, rank), so the output and its final sort are
    * ≤ k·n rows no matter how quadratic the pair set. The bound applies
    * BEFORE anything is sorted or materialized globally: a bounded-heap
    * Aggregator (partial+final ObjectHashAggregate, the TopKAgg pattern)
    * keeps at most k candidates per doc in each partition's combine map,
    * so only k survivors per (doc, partition) ever shuffle — never the
    * pair set, and never a global sort of it.
    *
    * `ord` is evaluated over the symmetrized frame (columns `doc`,
    * `partner`, plus every non-id column of `pairs`), so callers rank by
    * a pair attribute (Hamming distance, negated cosine) or a
    * deterministic sample key (md5 of the pair — a seedless reservoir
    * both engines can replay). Returns
    * (doc, n_candidates, rank, partner, ord). */
  def pairTopKPerDoc(pairs: DataFrame, id1: String, id2: String,
                     ord: Column, k: Int = 5): DataFrame = {
    val others = pairs.columns.filterNot(c => c == id1 || c == id2)
    // symmetrize with a GENERATOR, not a self-union: a union would
    // reference the pair set on both branches and Spark does not share
    // subplans across union arms — the entire candidate enumeration
    // (bucket join + distinct) re-ran per branch (measured ~2x on the
    // zipf-1x SimHash candidates). explode doubles rows in the same scan.
    def sideStruct(d: String, p: String) =
      struct(col(d).as("doc") +: col(p).as("partner") +: others.map(col): _*)
    val sym = pairs
      .select(explode(array(sideStruct(id1, id2), sideStruct(id2, id1))).as("s"))
      .select(col("s.*"))
    val mink = udaf(new MinKByAgg(k))
    sym
      .select(col("doc"), col("partner"), ord.as("__ord"))
      .groupBy("doc")
      .agg(count(lit(1)).as("n_candidates"),
        mink(col("__ord"), col("partner")).as("tk"))
      .select(col("doc"), col("n_candidates"), posexplode(col("tk")))
      .select(col("doc"), col("n_candidates"),
        (col("pos") + 1).cast("int").as("rank"),
        col("col.pid").as("partner"), col("col.ord").as("ord"))
  }

  /** DuckDB twin of [[pairTopKPerDoc]]: `candsSql` must produce
    * (id1, id2[, extra cols]); `extraCols` are carried through the
    * symmetrize, `orderSql` ranks within a doc (partner ASC appended as
    * the tie-break, matching the heap), `extraSelect` projects any extra
    * output columns (", dist::INT AS dist"). */
  def pairTopKPerDocOracleSql(candsSql: String, docAlias: String,
                              orderSql: String, k: Int,
                              extraCols: Seq[String] = Nil,
                              extraSelect: String = ""): String = {
    val ex = extraCols.map(c => s", $c").mkString
    s"""WITH cands AS ($candsSql),
       |sym AS (
       |  SELECT id1 AS doc, id2 AS partner$ex FROM cands
       |  UNION ALL
       |  SELECT id2 AS doc, id1 AS partner$ex FROM cands),
       |ranked AS (
       |  SELECT doc, partner$ex,
       |         count(*) OVER (PARTITION BY doc) AS n_candidates,
       |         row_number() OVER (PARTITION BY doc
       |           ORDER BY $orderSql, partner) AS rank
       |  FROM sym)
       |SELECT doc AS $docAlias, n_candidates::BIGINT AS n_candidates,
       |       rank::INT AS rank, partner$extraSelect
       |FROM ranked WHERE rank <= $k ORDER BY $docAlias, rank""".stripMargin
  }

  /** The word tokens every word-gram operator reads: the lowercased text
    * split on whitespace runs. */
  private def wordTokens(text: Column): Column = split(lower(text), "\\s+")

  /** The distinct word-n-gram array over the token array `tk` — THE gram
    * definition of [[ngramJaccard]], the exact and estimate containment
    * tiers and the decontamination screen, mirrored by
    * [[wordGramsOracleSql]]: one copy, so a tokenization fix can never
    * desynchronize the operators from each other or from their twins.
    * `tk` must be a column or a lambda variable, never the split itself:
    * every gram lambda would inline the regex tokenizer and re-run it
    * once PER GRAM (O(tokens²) regex work). */
  private def wordGramsOfTk(tk: Column, n: Int, hashGrams: Boolean): Column = {
    val gram = (i: Column) => concat_ws(" ", slice(tk, i, lit(n)))
    array_distinct(transform(
      sequence(lit(1), greatest(size(tk) - (n - 1), lit(1))),
      i => if (hashGrams) xxhash64(gram(i)) else gram(i)))
  }

  /** [[wordGramsOfTk]] of a text column, the token array let-bound via a
    * one-element transform (a lambda variable is evaluated once per row),
    * for callers with no exchange to materialize the tokens through. */
  private def wordGrams(t: Column, n: Int, hashGrams: Boolean): Column =
    element_at(transform(array(wordTokens(t)), tk => wordGramsOfTk(tk, n, hashGrams)), 1)

  /** DuckDB twin of [[wordGrams]]: a SELECT of `cols` plus `out`, the
    * distinct word-`n`-gram list of each row of `src`, a table or CTE
    * with a `text` column. */
  def wordGramsOracleSql(src: String, n: Int, out: String,
                         cols: Seq[String] = Seq("doc_id"), text: String = "text"): String =
    s"""SELECT ${cols.mkString(", ")},
       |         list_distinct([array_to_string(tk[i:i+${n - 1}], ' ')
       |                        FOR i IN generate_series(1, greatest(len(tk) - ${n - 1}, 1))]) AS $out
       |  FROM (SELECT *, string_split_regex(lower($text), '\\s+') AS tk
       |        FROM $src)""".stripMargin

  /** Word n-gram Jaccard similarity for a candidate pair set. Grams are
    * hashed to longs before the set ops (exact up to 64-bit collisions);
    * `hashGrams = false` keeps raw string grams — slower set ops, but the
    * Jaccard is then bit-exact reproducible by any engine (dd5b).
    *
    * `minJaccard > 0` switches to the thresholded-verify shape every
    * near-dup pipeline runs at scale (reporting a Jaccard for EVERY
    * banding collision materializes mostly-zero pairs — 77,912 of 78,175
    * at sf0.1): a MinHash sketch of each doc's OWN gram set (so the
    * estimator is unbiased for exactly the quantity verified) prunes
    * pairs whose estimate falls below `minJaccard - margin` before the
    * expensive gram-array join, [[minhashDedup]]'s documented two-stage
    * design; only survivors pay the exact intersect, and only pairs with
    * TRUE jaccard >= minJaccard are returned. The sketch moves 32 longs
    * per doc where the gram arrays move hundreds.
    *
    * The prune is PROBABILISTIC — a conservative ~2.5-sigma margin
    * (`estMargin < 0` → 2.5·sqrt(t(1−t)/32) ≈ 0.22 at t=0.5): a pair
    * whose true jaccard sits EXACTLY at the threshold is missed with
    * P ≈ Φ(−2.5) ≈ 0.6%; anything meaningfully above passes essentially
    * always. The margin is deliberately wider than [[minhashDedup]]'s
    * 1.5σ because the prefilter's saving is insensitive to it — the bulk
    * of banding collisions sit FAR below the threshold, so admitting a
    * wider borderline band costs a handful of extra exact verifies while
    * cutting the miss tail ~12×. Corpora with real mass at the threshold
    * can still widen `estMargin` further (or pass `minJaccard = 0` for
    * the exhaustive verify). LlmSpec machine-checks
    * prefiltered ≡ unfiltered-then-thresholded on the deterministic
    * sf0.001 AND sf0.01 candidate sets — evidence the margin clears this
    * corpus's jaccard gap, not a universal guarantee. Prefilter requires
    * `hashGrams` (the sketch hashes ARE the grams); the portable string
    * path never thresholds. */
  def ngramJaccard(df: DataFrame, id: String, text: String, n: Int,
                   pairs: DataFrame, hashGrams: Boolean = true,
                   minJaccard: Double = 0.0, estMargin: Double = -1,
                   numEstHashes: Int = 32): DataFrame = {
    // The token array is materialized through an exchange BEFORE the gram
    // transform: a projection-collapsed plan would inline the regex split
    // into every lambda reference, re-tokenizing the document once PER
    // GRAM (O(tokens²) regex work). The exchange has a fixed partition
    // count ([[spread]]): the candidate semi-join output is far below
    // AQE's minimum partition size, and a `repartition(col)` there was
    // coalesced into a single task. So the split runs once per doc, and
    // gram building runs in one task per shuffle partition.
    // Verify cost must scale with the CANDIDATE volume, not the corpus:
    // gram arrays are built only for docs that appear in a pair (semi-join
    // on the distinct candidate ids), then checkpointed ONCE so both join
    // sides read materialized arrays instead of re-running the tokenize/
    // transform expression tree. A checkpoint erases size stats (its leaf
    // reports the default size, so neither AQE nor the planner would ever
    // broadcast it) — the broadcast decision is therefore made HERE, from
    // the materialized candidate-doc count: dim-sized gram tables join
    // map-side, larger ones fall back to the shuffle join they need.
    val p = pairs.ckpt()
    val candIds = p.select(col("id1").as(id))
      .union(p.select(col("id2").as(id))).distinct()
    val gCp = spread(df.join(candIds, id)
      .select(col(id), wordTokens(col(text)).as("tk")), col(id))
      .select(col(id), wordGramsOfTk(col("tk"), n, hashGrams).as("g"))
      .ckpt()
    val small = gCp.count() <= 20000
    val g = if (small) broadcast(gCp) else gCp
    val verified = if (minJaccard > 0) {
      require(hashGrams, "sketch prefilter needs hashed grams")
      val margin =
        if (estMargin >= 0) estMargin
        else 2.5 * math.sqrt(minJaccard * (1 - minJaccard) / numEstHashes)
      // the sketch table is numEstHashes longs per CANDIDATE doc — the
      // same broadcast-or-shuffle decision as the gram arrays, made from
      // the materialized count
      val sigCp = gCp.select(col(id),
        graft.functions.MinHashFromHashes(col("g"), numEstHashes).as("sig"))
        .ckpt()
      val sig = if (small) broadcast(sigCp) else sigCp
      val agree = graft.functions.AgreeCount(col("s1"), col("s2"))
      // integer agreement floor: agree/numEstHashes >= minJaccard - margin
      val needed = math.ceil((minJaccard - margin) * numEstHashes).toInt
      p
        .join(sig.select(col(id).as("id1"), col("sig").as("s1")), "id1")
        .join(sig.select(col(id).as("id2"), col("sig").as("s2")), "id2")
        .filter(agree >= needed)
        .select("id1", "id2")
    } else p
    val out = verified
      .join(g.select(col(id).as("id1"), col("g").as("g1")), "id1")
      .join(g.select(col(id).as("id2"), col("g").as("g2")), "id2")
      // count-only set sizes — see the estimate-verify note above
      .withColumn("__iu", graft.functions.SetSizes(col("g1"), col("g2")))
      .withColumn("jaccard",
        col("__iu.inter").cast("double") / col("__iu.union"))
      .select("id1", "id2", "jaccard")
    if (minJaccard > 0) out.filter(col("jaccard") >= minJaccard) else out
  }

  /** Funnel counts of a df-capped gram index's (gram, df) table: distinct
    * grams, pairable grams, grams above the cap, and the largest df. */
  private final case class DfCapCounts(total: Long, pairable: Long,
                                       aboveCap: Long, maxDf: Long) {
    /** "Saturated" means the CAP blinded the index: zero pairable grams
      * AND at least one gram actually above the cap. A duplicate-free
      * corpus (every df = 1) also has zero pairable grams, but no cap is
      * involved and raising maxDf changes nothing -- correctly-empty, not
      * saturated, so it must not trip the warning (ADVICE r13). */
    def saturated: Boolean = total > 0 && pairable == 0 && aboveCap > 0
  }

  /** Loud guard for the sf1-scale finding (BENCH_sf1.json): on a
    * gram-dense corpus the df-capped inverted index can SATURATE — every
    * distinct gram lands above `maxDf` (boilerplate) or has nothing to
    * pair with, the pairable set is EMPTY, and the exact tier returns
    * zero pairs while real containment exists (measured at the 50k-doc
    * scale twin: 29,791/29,791 grams above the cap, planted pairs still
    * found by the df-free estimate tier). The blindness itself is the
    * documented inverted-index recall posture; being SILENT about it is
    * not acceptable for a production dedup pass — a 100 TB run would
    * report "no contained duplicates" with no signal that the index
    * never existed. One scalar aggregate over the already-checkpointed
    * df table (gram-universe-sized scan, no extra corpus pass); returns
    * the table's funnel counts, whose `saturated` is whether it fired. */
  private def warnIfDfCapSaturated(dfTab: DataFrame, pairablePred: Column,
                                   maxDf: Int, op: String): DfCapCounts = {
    val r = dfTab.agg(count(lit(1)), count(when(pairablePred, 1)),
      count(when(col("df") > maxDf, 1)), max(col("df"))).first()
    val c = DfCapCounts(r.getLong(0), r.getLong(1), r.getLong(2),
      if (r.isNullAt(3)) 0L else r.getLong(3))
    if (c.saturated)
      org.slf4j.LoggerFactory.getLogger("graft.llm.Dedup").warn(
        s"$op: df-capped gram index is SATURATED -- 0 of ${c.total} distinct " +
          s"grams are pairable at maxDf=$maxDf (${c.aboveCap} grams sit ABOVE " +
          s"the cap), so the exact containment tier will report NO pairs " +
          s"regardless of real overlap. Raise maxDf, or use the df-free " +
          s"estimate tier " +
          s"(containmentEstimatePairs / containmentEstimateIncremental).")
    c
  }

  /** The exact containment tier's df-capped word-gram index, built once
    * by [[gramIndex]] and read by [[containmentPairs]],
    * [[containmentIncremental]] and [[containmentDiagnostics]]. `g` is
    * the checkpointed (doc[, is_new], g) gram-array table, `dfTab` the
    * checkpointed (gram, df) table over the indexed docs, `counts` its
    * funnel counts. Grams with df in [minDf, maxDf] are pairable; grams
    * above maxDf are boilerplate and generate no candidates. */
  private final class GramIndex(val g: DataFrame, dfTab: DataFrame,
                                val counts: DfCapCounts, minDf: Int, maxDf: Int) {
    /** (`as`, gram) postings of `rows`, a filter of `g`. */
    def postings(rows: DataFrame, as: String): DataFrame =
      rows.select(col("doc").as(as), explode(col("g")).as("gram"))

    def pairable: DataFrame =
      dfTab.filter(col("df") >= minDf && col("df") <= maxDf).select("gram")

    /** (doc, __n, __a) per doc of `rows`: its distinct gram count and how
      * many of its grams sit above the cap (0 when none). */
    def stats(rows: DataFrame): DataFrame =
      rows.select(col("doc"), size(col("g")).as("__n"))
        .join(postings(rows, "doc")
                .join(dfTab.filter(col("df") > maxDf).select("gram"), "gram")
                .groupBy("doc").agg(count(lit(1)).as("__a")),
              Seq("doc"), "left")
        .na.fill(0, Seq("__a"))

    /** Batch form: (id1, id2, __c) for every doc pair sharing a pairable
      * gram, __c = how many they share. Per-gram doc sets are ≤ maxDf
      * rows — bounded aggregate state — and the in-bucket pair expansion
      * is a bounded generator, never a gram self-join. */
    def bucketCandidates: DataFrame =
      postings(g, "doc").join(pairable, "gram")
        .groupBy("gram").agg(sort_array(collect_set(col("doc"))).as("ds"))
        // defensive re-check on DISTINCT docs: under a duplicate-id input
        // the row-count df can be >= 2 with a single distinct doc, and a
        // 1-element ds would drive sequence(0, -1) into illegal
        // element_at(ds, 0) calls inside the pair generator
        .filter(size(col("ds")) >= 2)
        .select(explode(inBucketPairs).as("p"))
        .select(col("p.id1").as("id1"), col("p.id2").as("id2"))
        .groupBy("id1", "id2").agg(count(lit(1)).as("__c"))

    /** EXACT candidate prune (the r12 finding: the capped index still
      * emitted 1.12M candidate pairs at sf0.1, ~9% of ALL doc pairs, and
      * the exact verify on them was half the operator's cost). For a
      * pair, shared <= C + min(a1, a2): a shared gram is either pairable
      * (counted EXACTLY by C = `counted`'s __c, the posting matches that
      * generated the pair) or above-cap (bounded by either doc's above-cap
      * gram count a_i; a gram outside the index is in one doc only, or in
      * no corpus doc, and can't be shared). So max(c1, c2) =
      * shared/min(n1, n2) is bounded by (C + min(a1, a2))/min(n1, n2), and
      * a pair whose BOUND misses the threshold can never verify —
      * dropping it loses nothing. The doc-stats joins are dim-sized. */
    def prune(counted: DataFrame, left: String, statsL: DataFrame,
              right: String, statsR: DataFrame, minContainment: Double): DataFrame =
      counted
        .join(statsL.select(col("doc").as(left),
          col("__n").as("__n1"), col("__a").as("__a1")), left)
        .join(statsR.select(col("doc").as(right),
          col("__n").as("__n2"), col("__a").as("__a2")), right)
        .filter((col("__c") + least(col("__a1"), col("__a2"))).cast("double") /
          least(col("__n1"), col("__n2")) >= minContainment)
        .select(left, right)
  }

  /** Builds the [[GramIndex]]: the batch form (`isNew` absent) indexes
    * every doc with pairable df in [2, maxDf] (a df=1 gram pairs nothing);
    * the ingest form indexes the held corpus (`isNew` false) with floor 1,
    * since a df=1 corpus gram still pairs with batch docs. Warns through
    * [[warnIfDfCapSaturated]] as `op`. */
  private def gramIndex(df: DataFrame, id: String, text: String, n: Int,
                        hashGrams: Boolean, maxDf: Int, isNew: Option[Column],
                        op: String): GramIndex = {
    // tokens materialize through an exchange so the regex split runs once
    // per doc (the ngramJaccard lesson); the gram table is read by the
    // postings, the doc stats and both verify sides
    val g = df.select(col(id).cast("long").as("doc") +: isNew.map(_.as("is_new")).toSeq :+
        wordTokens(col(text)).as("tk"): _*)
      .repartition(col("doc"))
      .withColumn("g", wordGramsOfTk(col("tk"), n, hashGrams)).drop("tk")
      .ckpt()
    val corpus = if (isNew.isDefined) g.filter(!col("is_new")) else g
    // (doc, gram) is distinct by construction (array_distinct per doc),
    // so count(*) per gram IS the document frequency — constant state.
    // The df table feeds TWO consumers (pairable grams + the per-doc
    // above-cap counts of the prune), so it is checkpointed once.
    // NOTE (r16): a fused [[CountCollectCapAgg]] build (df + posting list
    // in one exchange, the estimate tier's r16 shape) was tried here and
    // measured 1.15× SLOWER on the full-corpus hashed form (dd19b
    // 3.73→4.29 s same-session A/B): a word-gram universe is dominated
    // by df=1 singletons, where the codegen'd count aggregate is nearly
    // free and only the few pairable grams ever reach the collect_set —
    // object-aggregating a one-element list per singleton gram costs
    // more than the second (pairable-only) shuffle it saves. The fused
    // form stays where postings are DENSE per key (the (band, v) bucket
    // indexes of containmentEstimatePairs/Incremental, 0.60-0.63×).
    val dfTab = corpus.select(explode(col("g")).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("df"))
      .ckpt()
    val minDf = if (isNew.isDefined) 1 else 2
    val counts = warnIfDfCapSaturated(dfTab,
      col("df") >= minDf && col("df") <= maxDf, maxDf, op)
    new GramIndex(g, dfTab, counts, minDf, maxDf)
  }

  /** Directional CONTAINMENT near-dup pairs (Broder's containment — the
    * LSH-Ensemble use case, Zhu et al. 2016): c(A→B) = |A∩B| / |A| over
    * distinct word n-grams. Jaccard structurally MISSES the
    * page-plus-boilerplate superset case every crawl produces (|A∩B|/|A∪B|
    * is diluted by the larger doc: a page fully embedded in a 5× wrapper
    * scores jaccard ≈ 0.2 but containment 1.0), so a containment pass is
    * what actually catches re-hosted/wrapped copies. Emits both
    * directions (c1 = shared/|g1|, c2 = shared/|g2|) for pairs where
    * either clears `minContainment`, id1 < id2.
    *
    * Scale shape (the dd8 lesson applied): document frequency per gram is
    * a constant-state count — never an occurrence list — and grams with
    * df > maxDf (boilerplate: candidates grow QUADRATICALLY in df while
    * discriminating nothing) or df < 2 (nothing to pair) are dropped by a
    * gram-keyed semi-join BEFORE any pairing. Only then does the bounded
    * bucket expansion run: per-gram doc sets are ≤ maxDf by construction,
    * so collect_set state and the pair fan-out (≤ maxDf²/2 per gram) are
    * both constant-bounded per key at ANY corpus size. The exact verify
    * touches full gram ARRAYS only for candidate docs (semi-join +
    * checkpoint, the ngramJaccard machinery) — recall guard: a pair
    * sharing ONLY above-cap boilerplate grams is not generated, the
    * standard inverted-index posture. `hashGrams = true` (the default,
    * ngramJaccard's convention) runs the whole pipeline over 64-bit
    * gram hashes — 8 bytes a posting through the index and long-array
    * set ops in the verify, the production path at corpus scale;
    * `false` keeps raw string grams, replayable by any engine (the
    * oracle-green registry form). Outputs are identical up to 64-bit
    * collisions, which the hashed path CANNOT detect (the verify
    * intersects the same hash arrays, so a collision inflates shared
    * and can merge two in-doc grams in n1/n2) — at ~10⁻¹⁹ per gram
    * pair this is the standard accepted risk of every hashed-shingle
    * pipeline here (dd1/dd5's posture), not an exactness guarantee.
    *
    * Precondition: `id` values are unique (the contract of every dedup
    * operator here — dedup exact copies first). Duplicate ids would make
    * the per-gram row count over-state document frequency; the bucket
    * stage still guards itself (`size(ds) >= 2`) so a duplicated id
    * degrades to df-miscounting, never a crash. */
  def containmentPairs(df: DataFrame, id: String, text: String, n: Int,
                       minContainment: Double, maxDf: Int,
                       hashGrams: Boolean = true): DataFrame = {
    val ix = gramIndex(df, id, text, n, hashGrams, maxDf, None, "containmentPairs")
    pruneAndVerify(ix, ix.bucketCandidates, minContainment)._2
  }

  /** The batch form's exact prune of counted candidates, and the exact
    * verify of the survivors. */
  private def pruneAndVerify(ix: GramIndex, counted: DataFrame,
                             minContainment: Double): (DataFrame, DataFrame) = {
    val stats = ix.stats(ix.g)
    val pruned = ix.prune(counted, "id1", stats, "id2", stats, minContainment)
    (pruned, verifyContainment(pruned,
      ix.g.select(col("doc").as("id1"), col("g").as("__gl")),
      ix.g.select(col("doc").as("id2"), col("g").as("__gr")),
      "id1", "id2", "n1", "n2", "c1", "c2", minContainment))
  }

  /** Diagnostic companion to [[containmentPairs]]: a one-row summary of
    * the df-capped index's health on a given corpus — gram universe
    * size, pairable/above-cap split (the saturation warning's
    * quantitative sibling), candidate pairs emitted by the bucketed
    * generator, candidates surviving the exact upper-bound prune, and
    * pairs the exact verify confirms. Reads the funnel off ONE
    * [[gramIndex]] build — the operator's own stages, so the numbers
    * cannot drift from what [[containmentPairs]] executes — with the
    * counted candidates checkpointed for their two readers; a
    * capacity-planning probe you run on a corpus SAMPLE before
    * committing a 100 TB pass to the exact tier, not a per-run tax. */
  def containmentDiagnostics(df: DataFrame, id: String, text: String, n: Int,
                             minContainment: Double, maxDf: Int,
                             hashGrams: Boolean = true): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val ix = gramIndex(df, id, text, n, hashGrams, maxDf, None, "containmentDiagnostics")
    val counted = ix.bucketCandidates.ckpt()
    val (pruned, verified) = pruneAndVerify(ix, counted, minContainment)
    val c = ix.counts
    Seq((c.total, c.pairable, c.aboveCap, c.maxDf, c.saturated,
         counted.count(), pruned.count(), verified.count()))
      .toDF("grams_total", "grams_pairable", "grams_above_cap", "max_df",
        "saturated", "candidate_pairs", "pruned_candidate_pairs",
        "verified_pairs")
  }

  /** The bounded in-bucket pair generator over a sorted doc-set column
    * `ds` — all (i, j) i<j pairs as structs, ≤ |ds|²/2 per row by
    * construction, never a bucket self-join. ONE copy shared by the
    * bucketed candidate stages of the exact tier ([[GramIndex]]) and the
    * estimate tier ([[containmentEstimatePairs]]) so the generator's
    * bounds can't drift. Callers must pre-filter `size(ds) >= 2`: a 1-element ds
    * would drive sequence(0, -1) into illegal element_at(ds, 0). */
  private def inBucketPairs: Column = flatten(transform(
    sequence(lit(0), size(col("ds")) - 2),
    i => transform(sequence(i + 1, size(col("ds")) - 1),
      j => struct(element_at(col("ds"), i + 1).as("id1"),
                  element_at(col("ds"), j + 1).as("id2")))))

  /** Exact containment verify + threshold + rounding — ONE copy shared
    * by the exact and estimate tiers, batch and ingest forms, so the
    * floor(x·10⁴+0.5)/10⁴ rule can never drift between them. NEVER
    * round(): Spark's round() rounds the decimal expansion HALF_UP
    * while DuckDB rounds the scaled double, so half-tie integer ratios
    * flip between engines (the dd18 lesson). `gLeft`/`gRight` carry
    * (idCol, __gl/__gr gram arrays) — callers choose which docs each
    * side reads, so cross-table variants compare the RIGHT copies.
    * `extra` columns on `cands` (e.g. a sketch estimate audited against
    * the exact value) pass through to the output unchanged. */
  private def verifyContainment(cands: DataFrame,
      gLeft: DataFrame, gRight: DataFrame,
      leftId: String, rightId: String,
      nL: String, nR: String, cL: String, cR: String,
      minContainment: Double, extra: Seq[String] = Nil): DataFrame =
    cands
      .join(gLeft, leftId)
      .join(gRight, rightId)
      .select(Seq(col(leftId), col(rightId),
        size(col("__gl")).as(nL), size(col("__gr")).as(nR),
        graft.functions.SetSizes(col("__gl"), col("__gr"))
          .getField("inter").as("shared")) ++
        extra.map(col): _*)
      .withColumn("__cl", col("shared").cast("double") / col(nL))
      .withColumn("__cr", col("shared").cast("double") / col(nR))
      .filter(greatest(col("__cl"), col("__cr")) >= minContainment)
      .select(Seq(col(leftId), col(rightId), col(nL), col(nR), col("shared"),
        (floor(col("__cl") * 10000 + 0.5) / 10000.0).as(cL),
        (floor(col("__cr") * 10000 + 0.5) / 10000.0).as(cR)) ++
        extra.map(col): _*)

  /** [[containmentPairs]] in the steady-state ingest shape (the
    * dd9/dd11/dd18 posture): each NEW doc is checked for containment
    * against the EXISTING corpus — "is this crawl fetch a wrapped or
    * trimmed copy of something we already hold", the question an
    * ingest gate actually asks, where in-batch pairing is dd19's job.
    *
    * Scale shape: the corpus gram index carries the df cap (constant
    * count state per gram; floor is 1 not 2 — a df=1 corpus gram still
    * pairs with batch docs), so per-gram fan-out into the candidate
    * join is ≤ maxDf corpus docs per batch posting; the batch is small
    * by definition. At 100 TB the capped corpus index is the persisted
    * artifact and each ingest batch probes it — exactly dd11's
    * signature-index pattern at the gram level. The verify joins read
    * the SPLIT sides (batch arrays vs corpus arrays), so a re-fetch
    * that keeps its corpus doc_id compares its NEW text against the
    * HELD text — the comparison the gate exists for — and the
    * candidate side is batch-sized, so the corpus checkpoint is
    * scanned once under a broadcast/AQE-sized join, never shuffled.
    * Same hashGrams contract as [[containmentPairs]]. `isNew` must be
    * NON-NULL for every row: a null evaluates false in BOTH filters
    * and silently drops the doc from corpus and batch alike — coalesce
    * upstream if the flag column is nullable. */
  def containmentIncremental(df: DataFrame, id: String, text: String,
                             isNew: Column, n: Int, minContainment: Double,
                             maxDf: Int, hashGrams: Boolean = true): DataFrame = {
    val ix = gramIndex(df, id, text, n, hashGrams, maxDf, Some(isNew),
      "containmentIncremental")
    val batch = ix.g.filter(col("is_new"))
    val corpus = ix.g.filter(!col("is_new"))
    // batch postings probe the capped corpus index; a batch gram absent
    // from the corpus index is in no corpus doc, so the prune's bound
    // holds in the ingest shape too
    val counted = ix.postings(batch, "new_id")
      .join(ix.postings(corpus, "corpus_id").join(ix.pairable, "gram"), "gram")
      .groupBy("new_id", "corpus_id").agg(count(lit(1)).as("__c"))
    // split verify sides: batch arrays for new_id, corpus arrays for
    // corpus_id — an id present on BOTH sides (same-id re-fetch) joins
    // each candidate row exactly once, new text against held text
    verifyContainment(
      ix.prune(counted, "new_id", ix.stats(batch), "corpus_id", ix.stats(corpus),
        minContainment),
      batch.select(col("doc").as("new_id"), col("g").as("__gl")),
      corpus.select(col("doc").as("corpus_id"), col("g").as("__gr")),
      "new_id", "corpus_id", "n_new", "n_corpus", "c_new", "c_corpus",
      minContainment)
  }

  /** Containment pairs via MINHASH-SKETCH candidates — the LSH-Ensemble
    * estimation tier (Zhu, Nazi, He, Miller, "LSH Ensemble: Internet-Scale
    * Domain Search", VLDB 2016) that completes [[containmentPairs]]'s
    * recall story IN ITS OWN GRAM SPACE: both operators measure
    * containment over the SAME distinct word n-grams ([[wordGramsOfTk]],
    * one shared definition), but the inverted-index form drops grams
    * with df > maxDf before pairing, so a pair sharing ONLY boilerplate
    * grams is never a candidate there. This form generates candidates
    * from MinHash signatures over the doc's FULL gram set — document
    * frequency never enters the sketch, so the boilerplate-only pair is
    * exactly as discoverable as any other pair of the same Jaccard.
    * (Character shingles were measured and rejected for this tier: on
    * short docs the char-5 background similarity is so high that ≥0.5
    * shingle containment holds for ~0.5% of ALL pairs at sf0.1 — the
    * word-gram space is what makes the threshold discriminating, and it
    * keeps the two tiers' verdicts comparable.) Grams ride the md5-28
    * portable base (`('0x' || substr(md5(gram), 1, 7))::BIGINT`), the
    * signature the shared LCG family — every stage engine-replayable.
    *
    * Adaptation of the paper to a batch pairwise job: LSH Ensemble
    * partitions the indexed sets by SIZE and converts the containment
    * threshold to a per-partition Jaccard threshold through the
    * partition's size bounds — an index-time artifact, needed because a
    * query-time probe can't know every candidate's exact size. A batch
    * job holds every set's exact size, so the partition bound collapses
    * to its limit: per PAIR, t-containment implies
    * J >= J* = t·min(n1,n2)/(n1+n2−t·min(n1,n2)) (the paper's eq. with
    * exact sizes for the bounds), and the sketch filter keeps a pair iff
    * its signature agreement clears J* minus a 2.5σ binomial margin —
    * dd5's documented prefilter posture: a true-boundary pair is missed
    * with P ≈ Φ(−2.5) ≈ 0.6%, everything meaningfully above survives
    * essentially always, and the filter is DETERMINISTIC given the
    * hashes, so DuckDB replays it bit-for-bit. No margin is applied in
    * containment space: the J→c conversion amplifies sketch noise by
    * (n1+n2)/min/(1+J)² — up to (1+R) at size ratio R — which is the
    * paper's own motivation for bounding R per partition; filtering in
    * J-space sidesteps the amplification entirely. `maxSizeRatio` bounds
    * the pair search the way the paper's partition range does (a 0.5
    * containment at 20× size ratio is J ≈ 0.025 — beneath any sketch's
    * resolution; raise numHashes if you raise the ratio). Banding recall
    * at the (t=0.5, R=8) corner is 1−(1−J)^32 ≈ 86%, above 99% for
    * R ≤ 3 — raise numHashes for tighter corners.
    *
    * Scale shape: one pass per doc builds the gram-hash set, its size,
    * and the signature (checkpointed once, read by buckets, stats, and
    * both verify sides); banding is r=1 over all numHashes positions
    * (the low-J containment regime needs the most forgiving banding — a
    * 0.5-containment pair at ratio 8 sits at J ≈ 0.06, where any
    * multi-row band would miss); bucket membership counts are
    * constant-state BEFORE any collect (the dd8/dd19 posture), buckets
    * over `maxBucket` docs are dropped (the standard hot-bucket guard: a
    * pair colliding ONLY in oversized buckets is lost, and has numHashes
    * independent chances not to), and the in-bucket expansion is the
    * shared bounded generator. The exact verify touches gram ARRAYS
    * only for pairs that survive banding + size ratio + sketch filter.
    * Output: [[containmentPairs]]'s schema plus `c_est` — the sketch's
    * own containment estimate Ĵ(n1+n2)/((1+Ĵ)·min(n1,n2)), reported
    * next to the exact c1/c2 so the estimator's accuracy is
    * hash-audited against its own ground truth (the corpusOverlap
    * pattern). */
  def containmentEstimatePairs(df: DataFrame, id: String, text: String,
                               n: Int = 3, numHashes: Int = 32,
                               minContainment: Double = 0.5,
                               maxSizeRatio: Double = 8.0,
                               maxBucket: Int = 100): DataFrame = {
    val g = estimateGramTable(df, id, text, n, numHashes, pre = Nil)
    // (band, min-value) buckets, r=1: fused membership count + capped
    // member list in ONE exchange ([[CountCollectCapAgg]], r16) — the
    // old count-then-join-then-collect form shuffled the full posting
    // table twice; state stays ≤ maxBucket+1 per bucket either way
    val buckets = g.select(col("doc"), posexplode(col("sig")).as(Seq("band", "v")))
    val cc = udaf(new CountCollectCapAgg(maxBucket))
    val cands = buckets.groupBy("band", "v").agg(cc(col("doc")).as("s"))
      .filter(col("s.df") >= 2 && col("s.df") <= maxBucket)
      .select(col("s.ds").as("ds"))
      .filter(size(col("ds")) >= 2)
      .select(explode(inBucketPairs).as("p"))
      .select(col("p.id1").as("id1"), col("p.id2").as("id2"))
      .distinct()
    val stats = g.select(col("doc"), col("n"), col("sig"))
    val filtered = estimateFilter(cands, "id1", "id2", stats, stats,
      numHashes, minContainment, maxSizeRatio)
    verifyContainment(filtered,
      g.select(col("doc").as("id1"), col("h").as("__gl")),
      g.select(col("doc").as("id2"), col("h").as("__gr")),
      "id1", "id2", "n1", "n2", "c1", "c2", minContainment,
      extra = Seq("c_est"))
  }

  /** The estimate tier's (doc, n, sig) signature table, read outside
    * this object by the streaming containment gate's batch twin
    * ([[graft.streaming.StreamContainment.flaggedBatch]]) and by
    * e2e_llm_pipeline's near-dup stage, so they sketch exactly what
    * dd21/dd22 sketch. */
  private[graft] def estimateSigTable(df: DataFrame, id: String, text: String,
      n: Int = 3, numHashes: Int = 32): DataFrame =
    estimateGramTable(df, id, text, n, numHashes, pre = Nil)
      .select(col("doc"), col("n"), col("sig"))

  /** The (doc, pre…, h, n, sig) table of the estimate tier's batch and
    * incremental forms: md5-28 hashes of the [[wordGramsOfTk]] string
    * grams, their count and the portable LCG signature, checkpointed
    * once for the many downstream readers. `pre` lets the incremental
    * form thread its is_new flag through the checkpoint. */
  private def estimateGramTable(df: DataFrame, id: String, text: String,
      n: Int, numHashes: Int, pre: Seq[(String, Column)]): DataFrame = {
    val grams = wordGramsOfTk(col("tk"), n, hashGrams = false)
    // native md5-prefix fold: ≡ conv(substring(md5(g), 1, 7), 16, 10)
    // .cast("long") with no hex-string / decimal-parse per gram
    // (Md5KernelSpec pins the equality; the DuckDB oracle is unchanged).
    // A fully fused per-doc gram kernel (one Pattern.split + StringBuilder
    // + HashSet pass) was ALSO tried and measured 1.1-1.2× SLOWER than
    // this codegen'd array chain — reverted (OPTIMIZATION_r15.md).
    val gramHash = (g: Column) => graft.functions.Md5Prefix(g, 7)
    val preCols = pre.map { case (nm, c) => c.as(nm) }
    val preRefs = pre.map { case (nm, _) => col(nm) }
    // The token array goes through an exchange before the gram chain, so
    // the regex split runs once per doc rather than once per lambda
    // reference (the ngramJaccard lesson). Its partition count is fixed
    // ([[spread]]): AQE coalesced a `repartition(col)` into one task
    // whenever the input fell under its 1 MB minimum partition size (a
    // 3,000-document corpus does), and the gram and signature build, the
    // stage's whole cost, then ran on one core.
    // ONE checkpoint: the gram column `h` is referenced
    // three times in the outer projection (h, size(h), the native LCG
    // fold of functions/MinHashExpr.scala) — a non-cheap multi-referenced
    // producer CollapseProject never inlines (SPARK-36718, the gopherRules
    // barrier), so the md5 gram chain runs once per row without an
    // intermediate h table. Bit identity of the fold vs the
    // transform()-lambda algebra it replaced is pinned in
    // MinHashExprSpec; the DuckDB oracle replays the same (a_i, b_i)/P
    // family unchanged.
    spread(df.select(col(id).cast("long").as("doc") +: preCols :+
        wordTokens(col(text)).as("tk"): _*), col("doc"))
      .select(col("doc") +: preRefs :+ transform(grams, gramHash).as("h"): _*)
      .select(col("doc") +: preRefs :+ col("h") :+ size(col("h")).as("n") :+
        graft.functions.PortableMinHashFromHashes(col("h"), numHashes).as("sig"): _*)
      .ckpt()
  }

  /** The J*-margin sketch filter + c_est shared by both estimate forms
    * and the streaming gate's batch twin
    * (see [[containmentEstimatePairs]] for the derivation): keeps a
    * counted candidate pair iff its signature agreement clears the
    * exact-size Jaccard threshold minus 2.5σ and its size ratio is
    * within bounds; emits the floor-rounded containment estimate. */
  private[graft] def estimateFilter(cands: DataFrame, leftId: String, rightId: String,
      statsL: DataFrame, statsR: DataFrame, numHashes: Int,
      minContainment: Double, maxSizeRatio: Double): DataFrame = {
    val agree = graft.functions.AgreeCount(col("__s1"), col("__s2"))
    val minN = least(col("__n1"), col("__n2")).cast("double")
    val jStar = lit(minContainment) * minN /
      (col("__n1") + col("__n2") - lit(minContainment) * minN)
    val sigma = sqrt(jStar * (lit(1.0) - jStar) / numHashes)
    val jHat = col("__agree").cast("double") / numHashes
    val cEst = jHat * (col("__n1") + col("__n2")) / ((lit(1.0) + jHat) * minN)
    cands
      .join(statsL.select(col("doc").as(leftId), col("n").as("__n1"),
        col("sig").as("__s1")), leftId)
      .join(statsR.select(col("doc").as(rightId), col("n").as("__n2"),
        col("sig").as("__s2")), rightId)
      .filter(greatest(col("__n1"), col("__n2")).cast("double") /
        least(col("__n1"), col("__n2")) <= maxSizeRatio)
      .withColumn("__agree", agree)
      .filter(jHat >= jStar - lit(2.5) * sigma)
      .select(col(leftId), col(rightId),
        (floor(cEst * 10000 + 0.5) / 10000.0).as("c_est"))
  }

  /** [[containmentEstimatePairs]] in the steady-state ingest shape (the
    * dd20 posture lifted to the sketch tier): each NEW doc's signature
    * probes the EXISTING corpus's (band, min-value) bucket index, so a
    * wrapped/trimmed re-fetch is flagged even when every shared gram is
    * above [[containmentIncremental]]'s df cap — the estimation tier's
    * recall, the ingest gate's shape. At 100 TB the capped corpus
    * bucket index is the persisted artifact (numHashes longs per corpus
    * doc, df never consulted) and each batch posting fans out to at
    * most `maxBucket` corpus docs; in-batch pairing is deliberately
    * [[containmentEstimatePairs]]'s job. The verify reads SPLIT sides
    * (batch arrays vs corpus arrays), so a same-id re-fetch compares
    * its NEW text against the HELD text. Same sketch-filter contract
    * and `c_est` audit column as the batch form; `isNew` must be
    * non-null for every row (dd20's contract). */
  def containmentEstimateIncremental(df: DataFrame, id: String, text: String,
                                     isNew: Column, n: Int = 3,
                                     numHashes: Int = 32,
                                     minContainment: Double = 0.5,
                                     maxSizeRatio: Double = 8.0,
                                     maxBucket: Int = 100): DataFrame = {
    val g = estimateGramTable(df, id, text, n, numHashes,
      pre = Seq("is_new" -> isNew))
    // corpus bucket index: fused membership count + capped member list
    // in ONE exchange ([[CountCollectCapAgg]], r16; the old form
    // re-shuffled the corpus postings through the keep semi-join into
    // the batch join). Cap floor 1 — a single-doc corpus bucket must
    // still be probe-able by the batch, exactly dd20's df-floor
    // rationale.
    val postC = g.filter(!col("is_new"))
      .select(col("doc").as("corpus_id"), posexplode(col("sig")).as(Seq("band", "v")))
    val cc = udaf(new CountCollectCapAgg(maxBucket))
    val bk = postC.groupBy("band", "v").agg(cc(col("corpus_id")).as("s"))
      .filter(col("s.df") <= maxBucket)
    val postB = g.filter(col("is_new"))
      .select(col("doc").as("new_id"), posexplode(col("sig")).as(Seq("band", "v")))
    val cands = postB
      .join(bk, Seq("band", "v"))
      .select(col("new_id"), explode(col("s.ds")).as("corpus_id"))
      .groupBy("new_id", "corpus_id").agg(count(lit(1)).as("__c"))
    val filtered = estimateFilter(cands, "new_id", "corpus_id",
      g.filter(col("is_new")).select(col("doc"), col("n"), col("sig")),
      g.filter(!col("is_new")).select(col("doc"), col("n"), col("sig")),
      numHashes, minContainment, maxSizeRatio)
    verifyContainment(filtered,
      g.filter(col("is_new")).select(col("doc").as("new_id"), col("h").as("__gl")),
      g.filter(!col("is_new")).select(col("doc").as("corpus_id"), col("h").as("__gr")),
      "new_id", "corpus_id", "n_new", "n_corpus", "c_new", "c_corpus",
      minContainment, extra = Seq("c_est"))
  }

  /** Test-set DECONTAMINATION: ids of training docs sharing any word
    * n-gram with a benchmark corpus (the GPT-3/LLaMA-style n-gram overlap
    * rule — training data containing eval text inflates benchmarks, so
    * contaminated docs are dropped before training).
    *
    * Scale shape: benchmark corpora are SMALL by definition, so the
    * distinct benchmark gram set broadcasts and the training side is one
    * scan + explode + broadcast-semi-join — no shuffle of the corpus.
    * `hashGrams = true` (default) joins on 64-bit gram hashes (8 bytes a
    * gram through the explode); `false` keeps raw string grams,
    * reproducible by any engine (the oracle-green registry form). */
  def contaminatedIds(docs: DataFrame, id: String, text: String,
                      bench: DataFrame, btext: String,
                      n: Int = 8, hashGrams: Boolean = true): DataFrame = {
    val dg = docs.select(col(id), explode(wordGrams(col(text), n, hashGrams)).as("g"))
    val bg = bench.select(explode(wordGrams(col(btext), n, hashGrams)).as("g")).distinct()
    dg.join(broadcast(bg), "g").select(col(id)).distinct()
  }

  /** [[contaminatedIds]]'s 100 TB shape: when the benchmark gram set
    * outgrows the broadcast ceiling (a full eval suite n-grammed is
    * easily tens of GB), build a BLOOM FILTER of the grams instead
    * (~1.2 GB per 10⁹ grams at 1% fpp — driver-merged, task-broadcast),
    * prune the corpus gram stream MAP-SIDE, and let the exact semi-join
    * run over the pruned stream only — the exchange now carries true
    * contamination volume + fpp, not the whole corpus's grams. The
    * composition is exact (the Bloom only prunes; the semi-join removes
    * false positives), so the output is identical to [[contaminatedIds]]
    * and shares its oracle. */
  def contaminatedIdsBloom(docs: DataFrame, id: String, text: String,
                           bench: DataFrame, btext: String,
                           n: Int = 8, hashGrams: Boolean = true,
                           fpp: Double = 0.01): DataFrame = {
    val dg = docs.select(col(id), explode(wordGrams(col(text), n, hashGrams)).as("g"))
    // checkpointed: the gram explode otherwise re-runs for the Bloom
    // build AND the exact semi-join probe side
    val bg = bench.select(explode(wordGrams(col(btext), n, hashGrams)).as("g"))
      .distinct().ckpt()
    val expected = math.max(bg.count(), 1L)
    val pruned =
      if (hashGrams) graft.operators.Bloom.semiJoin(dg, bg, "g", "g", expected, fpp)
      else graft.operators.Bloom.semiJoinString(dg, bg, "g", "g", expected, fpp)
    pruned.select(col(id)).distinct()
  }

  /** Decontamination via the Bloom-pruned screen — output ≡
    * [[decontaminate]] exactly. */
  def decontaminateBloom(docs: DataFrame, id: String, text: String,
                         bench: DataFrame, btext: String,
                         n: Int = 8, hashGrams: Boolean = true,
                         fpp: Double = 0.01): DataFrame =
    docs.join(contaminatedIdsBloom(docs, id, text, bench, btext, n, hashGrams, fpp),
      Seq(id), "left_anti")

  /** Training docs that survive decontamination (anti-join on the
    * contaminated id set). */
  def decontaminate(docs: DataFrame, id: String, text: String,
                    bench: DataFrame, btext: String,
                    n: Int = 8, hashGrams: Boolean = true): DataFrame =
    docs.join(contaminatedIds(docs, id, text, bench, btext, n, hashGrams),
      Seq(id), "left_anti")

  /** Connected components over an undirected edge list.
    *
    * Input: two integral columns (any orientation, dups/self-loops fine;
    * an edge with a null endpoint is dropped). Output: (id, component),
    * in the edges' id type, for every node that appears in a kept edge,
    * with component = the minimum node id of its component.
    *
    * The edges are oriented (u > v) first. Their count, duplicates
    * included, bounds the distinct edge count from above. One pass
    * collects up to one edge more than the budget Spark already uses to
    * broadcast a relation through the driver
    * (`spark.sql.autoBroadcastJoinThreshold`, 16 B per edge); when that
    * pass holds every edge, a union-find rooted at the smallest id
    * finishes on the driver (a duplicate edge joins nothing new), and
    * the result is a local relation. No shuffle, checkpoint or
    * signature job runs on this path.
    *
    * Above the budget (or with it at -1, or with non-integral ids) the
    * edges are de-duplicated and checkpointed, their (count, hash-sum)
    * signature is taken, and the rounds run: alternating large-star /
    * small-star (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14). Before every round, including the first, the
    * distinct edge count is checked against the same budget; within it
    * the driver finish takes over. This is exact at any round: both star
    * operations keep every component and its node set, so the union-find
    * over the current edge set gives the rows the rounds would converge
    * to. Each round is a groupBy-min plus an equi-join shuffling only
    * (node, node) pairs, and the edge set converges to stars centered at
    * each component's minimum id in O(log n) rounds on ANY graph — naive
    * min-label propagation needs graph-diameter rounds, which a 100 TB
    * chain-shaped near-dup cluster would actually hit. The loop then runs
    * ONE scalar aggregate per round for the convergence check (the
    * signature — no data is collected), and lineage is truncated per
    * round so plans stay constant-size. */
  def connectedComponents(edges: DataFrame, maxIter: Int = 25): DataFrame = {
    val cols = edges.columns
    require(cols.length == 2, s"edge list must have 2 columns, got ${cols.mkString(",")}")
    // orient u > v; drop self-loops (and with them null endpoints)
    val oriented = edges.toDF("eu", "ev")
      .filter(col("eu") =!= col("ev"))
      .select(greatest(col("eu"), col("ev")).as("u"), least(col("eu"), col("ev")).as("v"))
    // fixpoint is a star per component: (member → center). Centers appear
    // only on the v side; label them with themselves.
    def stars(e: DataFrame): DataFrame =
      e.select(col("u").as("id"), col("v").as("component"))
        .union(e.select(col("v").as("id"), col("v").as("component")).distinct())
        .distinct()
    val schema = stars(oriented).schema
    val budget = edges.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    val integral = Seq(ByteType, ShortType, IntegerType, LongType).contains(oriented.schema("u").dataType)
    val cap = if (integral && budget >= 0) math.min(budget / 16, Int.MaxValue - 1L) else -1L
    if (cap >= 0) {
      val head = oriented.limit(cap.toInt + 1).collect()
      if (head.length <= cap) return componentsOnDriver(head, schema, edges.sparkSession)
    }
    var e = oriented.distinct().ckpt()
    def signature(df: DataFrame): (Long, Long) = {
      // hashes folded into a 30-bit domain before the sum so the aggregate
      // cannot overflow under ANSI semantics (would need ~8.5e9 edges)
      val r = df.agg(count(lit(1)),
        coalesce(sum(pmod(xxhash64(col("u"), col("v")), lit(1L << 30))), lit(0L))).first()
      (r.getLong(0), r.getLong(1))
    }
    var sigE = signature(e)
    var it = 0
    var converged = sigE._1 == 0L
    while (!converged && sigE._1 > cap && it < maxIter) {
      // large-star: every neighbor LARGER than u links to min(N(u) ∪ {u})
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u").agg(min(col("v")).as("mv"))
      val ls = sym.join(mins, "u")
        .withColumn("m", least(col("u"), col("mv")))
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
      // small-star: on the (u > v)-oriented result, every smaller neighbor
      // and u itself link to u's minimum neighbor
      val mins2 = ls.groupBy("u").agg(min(col("v")).as("mv"))
      val withM = ls.join(mins2, "u")
      val ss = withM.where(col("v") =!= col("mv"))
        .select(col("v").as("u"), col("mv").as("v"))
        .union(mins2.select(col("u"), col("mv").as("v")))
        .distinct()
      val next = ss.ckpt()
      val sigNext = signature(next)
      converged = sigNext == sigE
      graft.SessionHygiene.freeCheckpoint(e)
      e = next; sigE = sigNext
      it += 1
    }
    if (sigE._1 > cap) stars(e)
    else {
      val rows = e.collect()
      graft.SessionHygiene.freeCheckpoint(e)
      componentsOnDriver(rows, schema, edges.sparkSession)
    }
  }

  /** The driver finish of [[connectedComponents]]: each node of the
    * oriented `(u, v)` edge rows (duplicates allowed) with its union-find
    * root (the smallest id of its component), as a local relation of
    * `schema`. */
  private def componentsOnDriver(edgeRows: Array[Row], schema: StructType,
                                 spark: SparkSession): DataFrame = {
    val pairs = edgeRows.map(r =>
      (r.get(0).asInstanceOf[Number].longValue, r.get(1).asInstanceOf[Number].longValue))
    val ids = pairs.flatMap(p => Seq(p._1, p._2)).distinct.sorted
    def index(id: Long): Int = java.util.Arrays.binarySearch(ids, id)
    // ids are sorted, so the smaller index is the smaller id
    val parent = Array.tabulate(ids.length)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    pairs.foreach { case (u, v) =>
      val (a, b) = (find(index(u)), find(index(v)))
      if (a != b) parent(math.max(a, b)) = math.min(a, b)
    }
    val box: Long => Any = schema("id").dataType match {
      case IntegerType => _.toInt
      case ShortType => _.toShort
      case ByteType => _.toByte
      case _ => x => x
    }
    val rows = java.util.Arrays.asList(ids.indices.map(i =>
      Row(box(ids(i)), box(ids(find(i))))): _*)
    spark.createDataFrame(rows, schema)
  }

  /** Label every row of `df` with its near-dup component: edges are the
    * verified MinHash near-dup pairs (>= threshold), nodes absent from any
    * pair are singleton components of themselves. */
  def neardupComponents(df: DataFrame, id: String, text: String,
                        k: Int = 5, bands: Int = 8, rows: Int = 4,
                        threshold: Double = 0.8, charShingles: Boolean = false): DataFrame = {
    val edges = minhashDedup(df, id, text, k, bands, rows, threshold,
      charShingles = charShingles).select("id1", "id2")
    labelComponents(df.select(col(id)), id, edges)
  }

  /** Join node table to connectedComponents output; absent nodes become
    * singletons labeled with their own id. */
  def labelComponents(nodes: DataFrame, id: String, edges: DataFrame): DataFrame =
    nodes.join(
        connectedComponents(edges).withColumnRenamed("id", id), Seq(id), "left")
      .select(col(id), coalesce(col("component"), col(id)).as("component"))

  /** One survivor per near-dup CLUSTER (the component minimum) — the row
    * set a dedup pass actually keeps. Pair-wise dedup under-deletes on
    * transitive groups (A~B, B~C but A!~C); clustering is the standard
    * fix. */
  def neardupSurvivors(df: DataFrame, id: String, text: String,
                       k: Int = 5, bands: Int = 8, rows: Int = 4,
                       threshold: Double = 0.8, charShingles: Boolean = false): DataFrame = {
    val comps = neardupComponents(df, id, text, k, bands, rows, threshold, charShingles)
    df.join(comps.where(col(id) === col("component")).select(col(id)), Seq(id), "left_semi")
  }

  /** Incremental NEAR-dup: flag docs of a new batch that near-duplicate
    * the already-ingested corpus — dd9's steady-state shape lifted from
    * exact hashes to MinHash-LSH. A batch doc is flagged when any of the
    * four portable signature bands collides with a corpus doc; the flag
    * carries the smallest colliding corpus id for lineage.
    *
    * Scale shape: in production the corpus side is the PERSISTED signature
    * index (recomputed here from text for self-containment); only
    * (band-values, id) tuples join, candidates bounded per bucket, and the
    * batch side is typically 10^-3 of the corpus, so every band join
    * broadcasts the batch. Portable md5 algebra end-to-end → the whole
    * cross-table pairing is oracle-checkable. */
  def incrementalNeardup(batch: DataFrame, corpus: DataFrame,
                         id: String, text: String, k: Int = 5): DataFrame = {
    val sigB = minhashPortable(batch, id, text, k, numHashes = 8).ckpt()
    val sigC = minhashPortable(corpus, id, text, k, numHashes = 8).ckpt()
    val bands = Seq(Seq("m0", "m1"), Seq("m2", "m3"), Seq("m4", "m5"), Seq("m6", "m7"))
    bands.map { cols =>
      val b = sigB.as("b"); val c = sigC.as("c")
      val cond = cols.map(cn => col(s"b.$cn") === col(s"c.$cn")).reduce(_ && _)
      b.join(c, cond).select(col(s"b.$id").as("doc"), col(s"c.$id").as("dup_of"))
    }.reduce(_ union _)
      .groupBy(col("doc")).agg(min(col("dup_of")).as("dup_of"))
  }

  /** DuckDB twin of `incrementalNeardup` with the batch/corpus split
    * expressed as a predicate over the id column. */
  def incrementalNeardupOracleSql(table: String, id: String, text: String,
                                  batchPred: String, k: Int = 5): String = {
    val mins = minhashPortableOracleSql(table, id, text, k, 8)
    val bandJoins = Seq(("m0", "m1"), ("m2", "m3"), ("m4", "m5"), ("m6", "m7")).map {
      case (x, y) =>
        s"""SELECT b.$id AS doc, c.$id AS dup_of FROM b JOIN c
           |  ON b.$x = c.$x AND b.$y = c.$y""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH sig AS ($mins),
       |b AS (SELECT * FROM sig WHERE $batchPred),
       |c AS (SELECT * FROM sig WHERE NOT ($batchPred)),
       |cand AS (
       |$bandJoins)
       |SELECT doc, min(dup_of) AS dup_of FROM cand GROUP BY doc ORDER BY doc""".stripMargin
  }

  /** SemDeDup (Abbas et al. 2023): semantic deduplication over an
    * EMBEDDING column — k-means cells bound the candidate space, exact
    * cosine verifies within a cell, and the larger id of every verified
    * pair is dropped. Where MinHash/SimHash catch lexical near-dups,
    * this catches paraphrases and re-renderings that share no n-grams.
    *
    * Scale shape: candidate volume is Σ cell² — the deployment knob is
    * nCells, grown with the corpus so the expected cell size stays
    * constant (nCells ≈ N / targetCellSize); the within-cell self-join is
    * an equi-join on the cell id, partitioned at full cluster width by
    * Ivf.build. Model-dependent output (k-means), so registry entries are
    * rows-only; LlmSpec pins precision (every dropped doc has a genuine
    * ≥ threshold neighbor) and recall vs the exact pair set. */
  def semanticDedup(emb: DataFrame, id: String, vec: String, threshold: Double,
                    nCells: Int = 16, seed: Long = 42L): DataFrame = {
    val idx = Ivf.build(emb, id, vec, nCells, seed)
    // norm hoisted onto the cell rows (computed once per INPUT row, below
    // the join) — the within-cell pair verify then pays ONE dot fold per
    // pair instead of three; same dot/sqrt/divide order, bit-identical
    val withN = idx.assigned.withColumn("__n",
      sqrt(Similarity.dotProduct(col(vec), col(vec))))
    val a = withN.select(col("cell"), col(id).as("__id1"), col(vec).as("__v1"),
      col("__n").as("__n1"))
    val b = withN.select(col("cell"), col(id).as("__id2"), col(vec).as("__v2"),
      col("__n").as("__n2"))
    val dropped = a.join(b, "cell")
      .filter(col("__id1") < col("__id2"))
      .filter(Similarity.dotProduct(col("__v1"), col("__v2"))
        / (col("__n1") * col("__n2")) >= threshold)
      .select(col("__id2").as(id)).distinct()
    emb.join(dropped, Seq(id), "left_anti")
  }

  /** Portable SemDeDup — [[semanticDedup]] with the deterministic
    * md5-seeded fixed-round Lloyd's coarse quantizer
    * ([[Ivf.portableQuantizer]], the sim5b/sim6b pattern) in place of
    * MLlib KMeans, so the WHOLE pipeline (cell seeding, every Lloyd's
    * round, the within-cell cosine verify, the larger-id drop) replays
    * bit-for-bit in DuckDB via [[semanticDedupPortableOracleSql]]:
    * 6dp-floor-rounded centroid updates keep assignments
    * engine-identical, and the cosine is the same
    * hoisted-norm dot/sqrt/divide chain on both engines. Same scale
    * shape as [[semanticDedup]] (candidate volume Σ cell², nCells grown
    * with the corpus); the MLlib path keeps the sampling-init/early-exit
    * production quantizer and its LlmSpec precision/recall pins.
    * Returns the surviving (id) rows (cast to long, ascending). */
  def semanticDedupPortable(emb: DataFrame, id: String, vec: String,
                            threshold: Double, nCells: Int,
                            rounds: Int): DataFrame = {
    val (_, assigned) = Ivf.portableQuantizer(emb, id, vec, nCells, rounds)
    // norm hoisted onto the cell rows (the dd12 pattern): one dot fold
    // per PAIR instead of three
    val withN = assigned.withColumn("__n",
      sqrt(Similarity.dotProduct(col("pv"), col("pv"))))
    val a = withN.select(col("cell"), col("pid").as("__id1"),
      col("pv").as("__v1"), col("__n").as("__n1"))
    val b = withN.select(col("cell"), col("pid").as("__id2"),
      col("pv").as("__v2"), col("__n").as("__n2"))
    val dropped = a.join(b, "cell")
      .filter(col("__id1") < col("__id2"))
      .filter(Similarity.dotProduct(col("__v1"), col("__v2"))
        / (col("__n1") * col("__n2")) >= threshold)
      .select(col("__id2").as("pid")).distinct()
    assigned.join(dropped, Seq("pid"), "left_anti")
      .select(col("pid").as(id))
  }

  /** DuckDB twin of [[semanticDedupPortable]] over a base CTE built from
    * `fromSql` (must yield columns pid BIGINT, pv DOUBLE[]): the unrolled
    * Lloyd's chain ([[Ivf.lloydCtesSql]]), the final assignment, hoisted
    * norms, the within-cell pair verify and the larger-id anti-join —
    * all dot folds left-to-right list_sum chains ≡ Spark's aggregate
    * fold, the threshold literal forced ::DOUBLE so both engines compare
    * the identical IEEE chain. */
  def semanticDedupPortableOracleSql(fromSql: String, idOut: String,
                                     threshold: Double, nCells: Int,
                                     rounds: Int, dim: Int): String = {
    val dot = Ivf.dotSql(dim) _
    s"""WITH base AS MATERIALIZED ($fromSql),
       |${Ivf.lloydCtesSql("base", "", nCells, rounds, dim)},
       |fin AS MATERIALIZED (${Ivf.nearestCellSql("base", s"c$rounds", dim)}),
       |nrm AS MATERIALIZED (
       |  SELECT pid, pv, cell, sqrt(${dot("pv", "pv")}) AS n FROM fin),
       |dropped AS (
       |  SELECT DISTINCT b.pid FROM nrm a JOIN nrm b
       |    ON a.cell = b.cell AND a.pid < b.pid
       |  WHERE ${dot("a.pv", "b.pv")} / (a.n * b.n) >= ${threshold}::DOUBLE)
       |SELECT f.pid AS $idOut FROM fin f ANTI JOIN dropped d ON f.pid = d.pid
       |ORDER BY $idOut""".stripMargin
  }

  /** Semantic decontamination: dd7's benchmark screen lifted from n-gram
    * overlap to EMBEDDING similarity — flags training docs whose vector
    * sits within `threshold` cosine of ANY benchmark vector (catches
    * paraphrased test-set leakage that shares no n-grams). Benchmark sets
    * are small by definition → broadcast; the corpus side is ONE scan
    * computing |bench| dot products per row, a map-only stage with no
    * shuffle beyond the final per-doc max aggregate (and none at all if
    * the max folds over a broadcast-collected bench array — here the
    * groupBy keeps it declarative). */
  def semanticContamination(corpus: DataFrame, id: String, vec: String,
                            benchmark: DataFrame, bvec: String,
                            threshold: Double): DataFrame = {
    // the benchmark collapses to ONE broadcast row holding the vector
    // array (small by definition — it's a benchmark set), and the per-doc
    // max is an array fold: no groupBy shuffle at all, and an EMPTY
    // benchmark degrades to array_max(empty) = NULL → contaminated=false
    // for every doc (a crossJoin against zero bench ROWS would instead
    // silently drop the whole corpus).
    // Norms are HOISTED: each benchmark norm rides the broadcast, the
    // doc norm is let-bound via a one-element transform (CollapseProject
    // would otherwise inline it per benchmark vector) — so every
    // (doc, bench) pair pays ONE interpreted dot fold instead of three.
    // dot/sqrt/multiply/divide order is unchanged, so results are
    // bit-identical to the unhoisted cosine.
    val benchArr = broadcast(benchmark.agg(collect_list(struct(
      col(bvec).as("v"),
      sqrt(Similarity.dotProduct(col(bvec), col(bvec))).as("n"))).as("__bvs")))
    val docNorm = sqrt(Similarity.dotProduct(col(vec), col(vec)))
    corpus.crossJoin(benchArr)
      .select(col(id),
        element_at(transform(array(docNorm), na =>
          array_max(transform(col("__bvs"), b =>
            Similarity.dotProduct(col(vec), b.getField("v"))
              / (na * b.getField("n"))))), 1).as("__ms"))
      .select(col(id), round(col("__ms"), 4).as("max_benchmark_sim"),
        coalesce(col("__ms") >= threshold, lit(false)).as("contaminated"))
  }

  /** Incremental exact dedup: the steady-state shape of a production
    * pipeline — a NEW batch arrives and must be deduped against the
    * already-ingested corpus without rescanning it. Drops new docs whose
    * content hash already exists in the corpus (anti-join against the
    * corpus's distinct hash set — at scale that set is the pipeline's
    * persisted dedup index, not a rescan), then first-wins within the
    * batch itself.
    *
    * Scale shape: only (hash, id) pairs move; the corpus side reduces to
    * distinct hashes (partial-agg before the shuffle), the batch side is
    * one hash anti-join + one first-wins aggregate. */
  def incrementalExact(batch: DataFrame, corpus: DataFrame,
                       id: String, text: String): DataFrame = {
    val h = md5(col(text))
    val seen = corpus.select(h.as("__h")).distinct()
    val fresh = batch.withColumn("__h", h)
      .join(seen, Seq("__h"), "left_anti")
    val firstWins = fresh.groupBy(col("__h")).agg(min(col(id)).as(id))
    fresh.join(firstWins, Seq("__h", id), "left_semi").drop("__h")
  }

  /** Span-level duplicate coverage — the exact-substring signal of Lee et
    * al. 2022 ("Deduplicating Training Data Makes Language Models Better":
    * flag text sharing a long verbatim token span with another document),
    * re-shaped for Spark. A suffix array is a single-machine structure;
    * the distributed equivalent is the inverted index of L-token rolling
    * grams: a position whose gram also occurs in >= minDf distinct docs is
    * "shared", and a run of R consecutive shared positions witnesses a
    * verbatim span of R + L - 1 tokens common with some other doc.
    *
    * Per doc: total gram positions, shared positions, their ratio, and the
    * longest shared span. No pair join anywhere — cost is linear in the
    * corpus token count (one explode, a constant-state gram-frequency
    * aggregate over distinct (gram, doc) pairs, one semi-join back, a
    * per-doc window over shared positions only). Skew-safe by
    * construction: no per-gram occurrence list is ever buffered.
    *
    * `hashGrams = true` shuffles 8-byte xxhash64 gram keys instead of the
    * L-token strings (the production path; identical up to 64-bit
    * collisions). `false` keeps raw strings so any engine reproduces the
    * output bit-for-bit (dd8's DuckDB oracle). */
  def spanCoverage(df: DataFrame, id: String, text: String, l: Int = 8,
                   minDf: Int = 2, hashGrams: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = split(lower(col(text)), "\\s+")
    val nGrams = greatest(size(toks) - (l - 1), lit(1))
    // token array let-bound through a one-element transform so the regex
    // split runs once per row, not once per gram (see contaminatedIds)
    val gramArr = element_at(transform(array(toks), tk =>
      transform(sequence(lit(1), greatest(size(tk) - (l - 1), lit(1))), i => {
        val g = concat_ws(" ", slice(tk, i, lit(l)))
        if (hashGrams) xxhash64(g).cast("string") else g
      })), 1)
    // materialized once for its two consumers (the df-count chain and
    // the semi-join probe) — gram construction is the dominant CPU and
    // would otherwise run twice, and bare shuffle inputs are what keep
    // the fallback join AQE-skew-splittable (see spanRemoval)
    val positions = df.select(col(id), posexplode(gramArr).as(Seq("pos", "gram")))
      .ckpt()
    // SKEW-SAFE inverted index: the document frequency is a plain
    // count over distinct (gram, doc) pairs — the distinct's partial
    // aggregate dedups map-side and its shuffle keys on the PAIR, so a
    // boilerplate gram present in every doc spreads over the cluster
    // instead of landing in one task; the final per-gram state is one
    // counter. Shared positions come back via a semi-join on the gram
    // key (a JOIN, not an aggregate: no per-key buffer, and AQE's
    // skew-join split applies). The earlier one-shuffle form carried a
    // collect_list(struct(id,pos)) occurrence list per gram — half the
    // shuffled volume at sf0.1, but an unbounded single-task buffer on a
    // hot gram at corpus scale. A gram repeated only inside one doc is
    // not shared.
    val shared = positions.select(col("gram"), col(id)).distinct()
      .groupBy(col("gram")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= minDf)
      .select(col("gram"))
    val marked = positions.join(shared, Seq("gram"), "left_semi")
      .select(col(id), col("pos"))
    // gaps-and-islands: pos - row_number is constant within a consecutive
    // run of shared positions
    val w = Window.partitionBy(col(id)).orderBy(col("pos"))
    val perDoc = marked
      .withColumn("__grp", col("pos") - row_number().over(w))
      .groupBy(col(id), col("__grp")).agg(count(lit(1)).as("run"))
      .groupBy(col(id))
      .agg(sum(col("run")).as("n_shared"), max(col("run")).as("max_run"))
    df.select(col(id), nGrams.cast("long").as("n_grams"))
      .join(perDoc, Seq(id), "left")
      .select(col(id), col("n_grams"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        round(coalesce(col("n_shared"), lit(0L)).cast("double") / col("n_grams"), 6)
          .as("dup_span_ratio"),
        when(coalesce(col("max_run"), lit(0L)) > 0,
          coalesce(col("max_run"), lit(0L)) + (l - 1)).otherwise(0L)
          .as("longest_span_tokens"))
  }

  /** Exact-substring span REMOVAL — the cut step of Lee et al. 2022 that
    * [[spanCoverage]] only measures: every verbatim token span of length
    * >= `l` that already occurred in an earlier document (smaller id) is
    * cut from the later one, keeping exactly the first occurrence in the
    * corpus. Token t of doc D is removed iff some gram position p with
    * p <= t <= p+l-1 carries a gram whose minimum-occurrence doc is < D.
    *
    * Scale shape: the same inverted gram index as dd8 (one explode, a
    * constant-state min() per gram, positions joined back on the gram
    * key — skew-safe: no per-gram occurrence list is ever buffered),
    * then removable positions expand to their l covered token indices
    * (a bounded generator, volume <= l x positions), one distinct, one
    * anti-join against the token table, and a per-doc reassembly
    * aggregate. No pair join, nothing driver-side.
    *
    * Gram matching is case-insensitive; surviving tokens keep their
    * original case and order.
    *
    * `hashGrams = true` shuffles 8-byte xxhash64 gram keys instead of the
    * l-token strings (the production path, as in [[spanCoverage]];
    * identical up to 64-bit collisions); `false` keeps raw strings so the
    * DuckDB oracle replays bit-for-bit. */
  def spanRemoval(df: DataFrame, id: String, text: String, l: Int = 8,
                  hashGrams: Boolean = true): DataFrame = {
    val toks = split(col(text), "\\s+")
    // token array let-bound through a one-element transform so the regex
    // split runs once per row, not once per gram position (spanCoverage's
    // idiom; measured here: the inlined split was 48 regex passes per
    // doc and ~70% of the whole operator at sf0.1)
    val gramArr = element_at(transform(array(toks), tk =>
      transform(sequence(lit(1), greatest(size(tk) - (l - 1), lit(1))), i => {
        val g = lower(concat_ws(" ", slice(tk, i, lit(l))))
        if (hashGrams) xxhash64(g).cast("string") else g
      })), 1)
    // the position table feeds TWO consumers (the first-doc aggregate and
    // the removable probe) — materialize it once: gram construction
    // (slice + concat_ws per position, or the raw strings the oracle
    // path keeps) is the dominant CPU and would otherwise run twice, and
    // the materialized volume is the same order as the single shuffle
    // the aggregate already pays
    val positions = df.select(col(id), posexplode(gramArr).as(Seq("pos0", "gram")))
      .select(col(id), (col("pos0") + 1).as("pos"), col("gram"))
      .ckpt()
    // SKEW-SAFE duplicate-span marking: per-gram first_doc is a plain
    // min()/max() pair — constant aggregation state per gram no matter
    // how many occurrences it has (the earlier one-shuffle form carried a
    // collect_list(struct(id,pos)) per gram: half the shuffled volume at
    // sf0.1 but an unbounded single-task buffer on a hot gram at corpus
    // scale). Only grams whose occurrences span >1 doc id can remove
    // anything (max > min), and that REMOVER set is duplication-sized,
    // not corpus-sized — so it is materialized, counted, and delivered
    // as a broadcast probe when dim-sized (zero shuffle of the position
    // table; a hot gram costs probe time, never task memory). Corpora
    // whose remover set outgrows a broadcast fall back to the shuffled
    // join, where AQE's skew-join split applies — and the checkpoints
    // are what MAKE it apply: OptimizeSkewedJoin only matches a join
    // whose children are bare shuffle stages, so an aggregate fused into
    // the join stage would block the split (pinned in LlmSpec's
    // skew-splittable test).
    // min/max over the RAW id type: a long cast would NULL out string
    // ids (UUIDs) and silently remove nothing.
    val firstDoc = positions.groupBy(col("gram"))
      .agg(min(col(id)).as("__first_doc"), max(col(id)).as("__max_doc"))
      .filter(col("__max_doc") > col("__first_doc"))
      .select(col("gram"), col("__first_doc"))
      .ckpt()
    // the broadcast cutoff is sized by ROW WIDTH, not just count: hashed
    // grams are ~30-byte rows (hash string + id) where raw l-token string
    // grams run 100+ bytes — a count-only cutoff would let a just-under
    // raw-gram remover set collect 200MB+ on the driver
    val bcastRows = if (hashGrams) 2000000L else 200000L
    val fd = if (firstDoc.count() <= bcastRows) broadcast(firstDoc) else firstDoc
    val removable = positions.join(fd, Seq("gram"))
      .filter(col(id) > col("__first_doc"))
      .select(col(id), col("pos"))
    // Row-local rebuild (the r13 tail rewrite): the old tail shuffled
    // EVERY corpus token twice (covered-position explode + distinct,
    // token posexplode + anti-join) and reassembled each doc from a
    // per-doc token-struct collect_list, just to delete a few spans.
    // Instead, the dup-bounded removal-start set is aggregated per doc
    // (collect_set of ints, state ≤ one int per gram position — strictly
    // smaller than the token list it replaces) and the native SpanRemove
    // kernel rebuilds the text in one pass over the doc's own row —
    // O(tokens + l·starts), no corpus-token shuffle at all. The kernel
    // tokenizes via UTF8String.split with the same pattern, so the
    // output is bit-identical to the old Column composition
    // (SpanRemoveSpec pins kernel ≡ composition; the DuckDB oracle is
    // unchanged).
    val remPerDoc = removable.groupBy(col(id))
      .agg(collect_set(col("pos")).as("__rp"))
    df.join(remPerDoc, Seq(id), "left")
      .select(col(id), graft.functions.SpanRemove(col(text),
        coalesce(col("__rp"), array().cast("array<int>")), l).as("__sr"))
      // null-text parity with the old composition: n_tokens stays null,
      // n_kept/clean_text coalesce to the empty outputs
      .select(col(id), col("__sr.n_tokens").as("n_tokens"),
        coalesce(col("__sr.n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("__sr.clean_text"), lit("")).as("clean_text"))
  }

  /** Cross-document boilerplate line removal — the line-level dedup pass of
    * CCNet / RefinedWeb: a (normalized, non-empty) line that recurs in
    * >= `minDf` distinct documents is boilerplate (navigation chrome,
    * cookie banners, license headers) and is dropped from EVERY document;
    * the surviving lines are reassembled in their original order.
    *
    * Scale shape: one posexplode (linear in corpus chars), the
    * line-frequency aggregate shuffles only (line-key, doc) pairs with
    * map-side distinct, the boilerplate set comes back as a left_anti
    * equi-join (shuffled hash join on the line key — the boilerplate table
    * is corpus-sized in the worst case, so it is NOT broadcast), and the
    * reassembly is one hash aggregate per doc. No pair join, nothing
    * driver-side.
    *
    * Output per input doc (docs whose every line was boilerplate survive
    * with empty text): (id, n_lines, n_kept, clean_text). */
  def lineDedup(df: DataFrame, id: String, text: String,
                minDf: Int = 3): DataFrame = {
    val lines = df
      .select(col(id), posexplode(split(col(text), "\n")).as(Seq("pos", "line")))
      .withColumn("k", lower(trim(col("line"))))
    val boilerplate = lines
      .filter(length(col("k")) > 0)
      .select(col(id), col("k")).distinct()
      .groupBy("k").agg(count(lit(1)).as("line_df"))
      .filter(col("line_df") >= minDf)
      .select("k")
    val rebuilt = lines
      .join(boilerplate, Seq("k"), "left_anti")
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_kept"),
        concat_ws("\n",
          transform(array_sort(collect_list(struct(col("pos"), col("line")))),
            x => x("line"))).as("clean_text"))
    df.select(col(id), size(split(col(text), "\n")).cast("long").as("n_lines"))
      .join(rebuilt, Seq(id), "left")
      .select(col(id), col("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }
}
