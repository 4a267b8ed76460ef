package graft.llm

import graft.Ckpt._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed BPE tokenizer training + encoding — the tokenizer-fitting
  * stage of a training-data pipeline (Sennrich et al. 2016), re-expressed
  * as declarative Spark.
  *
  * Scale shape (the reason this works at 100 TB):
  *  - The corpus is scanned ONCE, into a `(word, freq)` distinct-word
  *    table. That aggregation is the only corpus-sized shuffle; every
  *    merge round after it runs on the vocabulary table, which is
  *    millions of rows where the corpus is billions — the same
  *    word-frequency compression every industrial BPE trainer uses.
  *  - One merge round = a pair-frequency aggregate over the vocab table
  *    (weighted by `freq`, overlapping pairs like the reference
  *    algorithm), a deterministic 1-row top-k (count desc, then pair
  *    lexicographic), and a map-only greedy fold applying the winning
  *    pair. `localCheckpoint` per round truncates the growing lineage,
  *    exactly like the PageRank loop in [[graft.graph.Graph]].
  *  - Encoding with a FROZEN merge list is a chain of the same folds over
  *    the distinct words of the target corpus, broadcast-joined back to
  *    the exploded text — the corpus never shuffles at all.
  *
  * The greedy fold applies one learned pair left-to-right,
  * non-overlapping: `[a a a]` under merge `(a,a)` becomes `[aa a]`, and a
  * token produced by the merge immediately participates as the new left
  * neighbor. Both engines implement the identical fold (Spark
  * `aggregate`, DuckDB `list_reduce` over singleton lists), so the whole
  * training loop is oracle-checkable bit for bit — see
  * [[learnOracleSql]] / [[encodeOracleSql]], which unroll the rounds into
  * chained MATERIALIZED CTEs (MATERIALIZED, or DuckDB inlines the
  * triple-referenced chain exponentially — the g2_pagerank lesson).
  */
object Bpe {

  final case class Merge(rank: Int, a: String, b: String, merged: String, cnt: Long)

  /** Explicit whitespace class — the RE2-portable subset, matching
    * [[TextAnalysis.wordCount]] (Java \s would add \x0B). */
  private val wordRe = "[^ \t\n\r\f]+"

  /** `(word, freq)` over lowercased whitespace-delimited words: the one
    * corpus-sized stage. */
  def wordFreq(docs: DataFrame, text: String): DataFrame =
    docs
      .select(explode(regexp_extract_all(lower(col(text)), lit(wordRe), lit(0))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** Initial tokenization: one token per character. Words are nonempty by
    * construction, so the array is never empty. */
  private def charToks(word: Column): Column =
    regexp_extract_all(word, lit("."), lit(0))

  /** Weighted adjacent-pair counts (overlapping, like the reference
    * algorithm's get_stats): `[a a a]` with freq w contributes 2w to
    * (a,a). */
  private def pairCounts(wordToks: DataFrame): DataFrame =
    wordToks
      .select(col("freq"),
        explode(zip_with(
          slice(col("toks"), lit(1), size(col("toks")) - 1),
          slice(col("toks"), lit(2), size(col("toks")) - 1),
          (x, y) => struct(x.as("a"), y.as("b")))).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum("freq").as("cnt"))

  /** Greedy left-to-right single-pair merge as a pure column fold. The
    * accumulator seeds with the first token (arrays are nonempty), so
    * `element_at(acc, -1)` is always defined under ANSI mode.
    *
    * The input is LET-BOUND via a single-element `transform` (the lambda
    * variable is referenced, not inlined): this body mentions its input 3
    * times, so [[encode]]'s k chained merges would otherwise quadruple
    * the expression tree PER ROUND (4^k blowup — measured 12 MiB task
    * binaries at k=8 before the binding). */
  private def applyMerge(toks: Column, a: String, b: String): Column =
    element_at(
      transform(array(toks), ts =>
        aggregate(
          slice(ts, lit(2), size(ts) - 1),
          array(element_at(ts, 1)),
          (acc, t) => when(element_at(acc, -1) === lit(a) && t === lit(b),
              concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
            .otherwise(concat(acc, array(t))))),
      1)

  /** Learn up to `nMerges` merges. Each round collects exactly ONE row to
    * the driver (the winning pair) — the merge table itself is the
    * driver-sized model state, like the k-means centers in [[Ivf]].
    * Stops early if the vocabulary runs out of adjacent pairs. */
  def learnMerges(docs: DataFrame, text: String, nMerges: Int): Seq[Merge] = {
    var cur = wordFreq(docs, text)
      .select(col("word"), col("freq"), charToks(col("word")).as("toks"))
      .ckpt()
    val out = Seq.newBuilder[Merge]
    var rank = 1
    var exhausted = false
    while (rank <= nMerges && !exhausted) {
      val top = pairCounts(cur)
        .orderBy(desc("cnt"), asc("a"), asc("b"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val a = top(0).getAs[String]("a")
        val b = top(0).getAs[String]("b")
        out += Merge(rank, a, b, a + b, top(0).getAs[Long]("cnt"))
        val next = cur
          .withColumn("toks", applyMerge(col("toks"), a, b))
          .ckpt()
        cur.unpersist()
        cur = next
        rank += 1
      }
    }
    cur.unpersist()
    out.result()
  }

  /** [[learnMerges]] with the merge loop run DRIVER-LOCALLY over the
    * collected `(word, freq)` table — the scale path for REAL merge
    * counts (32k-100k). The distributed loop is correct but pays one
    * Spark job pair PER RANK (a full pairCounts aggregate + a rewrite),
    * a driver-orchestration bottleneck no executor count fixes; the
    * word-frequency table it iterates on is MODEL-sized state by the
    * operator's own argument (millions of rows where the corpus is
    * billions — the Lloyd's-centroid / BPE-winner pattern taken to its
    * conclusion), so after the one corpus-sized distributed reduction
    * the loop belongs on the driver, exactly where every industrial BPE
    * trainer runs it.
    *
    * Bit-identical to [[learnMerges]] (pinned in BpeSpec and by tok1's
    * oracle replay): same overlapping weighted pair counts, the same
    * greedy left-to-right fold ([[applyMerge]]'s algebra), and the same
    * (cnt DESC, a, b) winner rule with ties compared as UNSIGNED UTF-8
    * BYTES — Spark's StringType binary order, not String.compareTo's
    * UTF-16 order.
    *
    * Cost shape: counts update INCREMENTALLY — only words containing the
    * winning pair are re-tokenized, with their old pair counts retracted
    * and new ones added (each O(log P) through the ordered view), so a
    * round costs O(touched words), not O(vocabulary) — 1,000 merges over
    * a 50k-type vocabulary train in seconds. Open vocabularies at corpus
    * scale bound the collected state with a frequency floor upstream
    * (filter wordFreq on freq — rare words cannot win early merges). */
  def learnMergesLocal(docs: DataFrame, text: String, nMerges: Int): Seq[Merge] = {
    val vocab = wordFreq(docs, text).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    learnMergesFromVocab(vocab, nMerges)
  }

  /** Unsigned-UTF-8-byte comparison ≡ Spark StringType binary ordering. */
  private def utf8Compare(x: String, y: String): Int = {
    val a = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val b = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    while (i < a.length && i < b.length) {
      val c = (a(i) & 0xff) - (b(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    a.length - b.length
  }

  /** [[applyMerge]]'s greedy fold, driver-side: seed with the first
    * token; a produced token immediately becomes the new left
    * neighbor. */
  private def applyMergeLocal(toks: Array[String], a: String, b: String,
                              merged: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer(toks(0))
    var i = 1
    while (i < toks.length) {
      val t = toks(i)
      if (out.last == a && t == b) out(out.length - 1) = merged
      else out += t
      i += 1
    }
    out.toArray
  }

  private[llm] def learnMergesFromVocab(vocab: Array[(String, Long)],
                                        nMerges: Int): Seq[Merge] = {
    import scala.collection.mutable
    val n = vocab.length
    val freqs = vocab.map(_._2)
    // code-point split ≡ charToks's regex "." (Java regex is code-point
    // aware; a UTF-16 code-unit split would shear surrogate pairs)
    val words: Array[Array[String]] =
      vocab.map(_._1.codePoints().toArray
        .map(cp => new String(Character.toChars(cp))))
    val counts = mutable.HashMap.empty[(String, String), Long]
    val index = mutable.HashMap.empty[(String, String), mutable.Set[Int]]
    // ordered view of counts: (cnt DESC, a, b) with UTF-8-byte ties —
    // kept in sync by bump() (remove-before-mutate, TreeSet invariant)
    val ordered = new java.util.TreeSet[(Long, String, String)](
      new java.util.Comparator[(Long, String, String)] {
        def compare(x: (Long, String, String), y: (Long, String, String)): Int = {
          val c = java.lang.Long.compare(y._1, x._1)
          if (c != 0) return c
          val ca = utf8Compare(x._2, y._2)
          if (ca != 0) ca else utf8Compare(x._3, y._3)
        }
      })
    def bump(p: (String, String), delta: Long): Unit = {
      val old = counts.getOrElse(p, 0L)
      if (old != 0) ordered.remove((old, p._1, p._2))
      val nw = old + delta
      if (nw != 0) {
        counts(p) = nw
        ordered.add((nw, p._1, p._2))
      } else counts.remove(p)
    }
    def pairsOf(toks: Array[String]): Iterator[(String, String)] =
      if (toks.length < 2) Iterator.empty
      else toks.iterator.zip(toks.iterator.drop(1))
    var w = 0
    while (w < n) {
      pairsOf(words(w)).foreach { p =>
        bump(p, freqs(w))
        index.getOrElseUpdate(p, mutable.Set.empty) += w
      }
      w += 1
    }
    val out = Seq.newBuilder[Merge]
    var rank = 1
    while (rank <= nMerges && !ordered.isEmpty) {
      val best = ordered.first()
      val (cnt, a, b) = best
      val merged = a + b
      out += Merge(rank, a, b, merged, cnt)
      val touched = index.getOrElse((a, b), mutable.Set.empty).toArray
      java.util.Arrays.sort(touched)
      touched.foreach { i =>
        val old = words(i)
        val nw = applyMergeLocal(old, a, b, merged)
        pairsOf(old).foreach { p =>
          bump(p, -freqs(i))
          index.get(p).foreach(_ -= i)
        }
        pairsOf(nw).foreach { p =>
          bump(p, freqs(i))
          index.getOrElseUpdate(p, mutable.Set.empty) += i
        }
        words(i) = nw
      }
      // the greedy fold leaves no mergeable (a, b) adjacency behind, so
      // the retract/add deltas must have zeroed the winner
      require(!counts.contains((a, b)),
        s"incremental update left residual count for ($a, $b)")
      rank += 1
    }
    out.result()
  }

  /** The learned merge table as a DataFrame (rank-ordered — applying in
    * rank order reproduces training exactly). */
  def mergesDf(spark: SparkSession, merges: Seq[Merge]): DataFrame = {
    import spark.implicits._
    merges.toDF("merge_rank", "a", "b", "merged", "cnt")
  }

  /** Encode a corpus with a frozen merge list: per-doc word and BPE token
    * counts. The merges fold over the corpus's DISTINCT words (vocab-
    * sized), and only the resulting `(word, n_toks)` map — broadcast —
    * ever meets the exploded text. */
  def encode(docs: DataFrame, id: String, text: String, merges: Seq[Merge]): DataFrame = {
    val words = docs.select(col(id),
      explode(regexp_extract_all(lower(col(text)), lit(wordRe), lit(0))).as("word"))
    val vocab = words.select("word").distinct()
      .withColumn("toks",
        merges.foldLeft(charToks(col("word")))((c, m) => applyMerge(c, m.a, m.b)))
      .select(col("word"), size(col("toks")).as("n_toks"))
    words.join(broadcast(vocab), "word")
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_words"), sum("n_toks").cast("long").as("n_tokens"))
  }

  /** [[encode]] with the merge fold run as a PER-PARTITION KERNEL over
    * the broadcast merge list — the scale path for REAL merge counts.
    * [[encode]]'s k chained `applyMerge` column folds are interpreted
    * higher-order expressions: at k = 8 they are the right declarative
    * shape, but a production tokenizer ships 1k-100k merges and the
    * expression tree (and its per-row interpretation cost) grows with k.
    * Here the distinct-word frame maps through a plain Scala loop
    * applying the SAME greedy fold ([[applyMergeLocal]], the algebra
    * BpeSpec pins ≡ [[applyMerge]]) rank by rank, with the merge table —
    * model-sized driver state, the Lloyd's-centroid pattern — broadcast
    * once per executor instead of inlined per expression. A merge (a, b)
    * can only fire if its output `a+b` is a contiguous substring of the
    * word (BPE tokens are contiguous substrings), so each rank first
    * runs that cheap gate and most of the merge list costs one
    * `indexOf` per word. Downstream is identical to [[encode]]: only
    * the broadcast (word, n_toks) map meets the exploded text — the
    * corpus never shuffles.
    *
    * Same-corpus identity: encoding with merges TRAINED on this corpus
    * reproduces training's final tokenization word for word (each round
    * of training applies its winner to every word, and per-word the
    * rank-ordered fold is independent of other words) — tok5's fixture
    * oracle pins exactly that end-to-end. */
  def encodeFrozen(docs: DataFrame, id: String, text: String,
                   merges: Seq[Merge]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val words = docs.select(col(id),
      explode(regexp_extract_all(lower(col(text)), lit(wordRe), lit(0))).as("word"))
    val bc = spark.sparkContext.broadcast(
      merges.map(m => (m.a, m.b, m.merged)).toArray)
    val vocab = words.select("word").distinct().as[String]
      .mapPartitions { it =>
        val ms = bc.value
        it.map { w =>
          var toks: Array[String] = w.codePoints().toArray
            .map(cp => new String(Character.toChars(cp)))
          var i = 0
          while (i < ms.length && toks.length > 1) {
            val (a, b, merged) = ms(i)
            if (w.contains(merged)) toks = applyMergeLocal(toks, a, b, merged)
            i += 1
          }
          (w, toks.length)
        }
      }.toDF("word", "n_toks")
    words.join(broadcast(vocab), "word")
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_words"), sum("n_toks").cast("long").as("n_tokens"))
  }

  /** The trained vocabulary: every surviving token with its total corpus
    * occurrence count — the artifact a tokenizer ships alongside its
    * merge list. Same vocab-sized fold as [[encode]]; the corpus is
    * represented by the weighted word table throughout. */
  def vocabulary(docs: DataFrame, text: String, merges: Seq[Merge]): DataFrame =
    wordFreq(docs, text)
      .withColumn("toks",
        merges.foldLeft(charToks(col("word")))((c, m) => applyMerge(c, m.a, m.b)))
      // vocab-sized checkpoint between the merge fold and the explode:
      // the k nested higher-order applyMerge folds are interpreted (no
      // codegen for aggregate/transform lambdas), and feeding them into a
      // generator re-evaluates the whole chain per OUTPUT TOKEN instead
      // of per word — measured 8.2 s vs 0.9 s for the same fold behind
      // size() in tok2. Materializing (word, freq, toks) once makes the
      // explode read plain arrays.
      .ckpt()
      .select(explode(col("toks")).as("token"), col("freq"))
      .groupBy("token").agg(sum("freq").as("freq"))

  // ---- DuckDB oracles: the training loop unrolled into chained CTEs ----

  /** Rounds 1..k as `p_i` (pair counts) / `m_i` (winner) / `t_i` (merged
    * vocab) MATERIALIZED CTEs over `t0`. */
  private def chainSql(table: String, text: String, k: Int): String = {
    val t0 =
      s"""t0 AS MATERIALIZED (
         |  SELECT word, count(*)::BIGINT AS freq, regexp_extract_all(word, '.') AS toks
         |  FROM (SELECT unnest(regexp_extract_all(lower($text), '$wordRe')) AS word
         |        FROM $table)
         |  GROUP BY word)""".stripMargin
    val rounds = (1 to k).map { i =>
      s"""p$i AS MATERIALIZED (
         |  SELECT p[1] AS a, p[2] AS b, sum(freq)::BIGINT AS cnt
         |  FROM t${i - 1}, UNNEST(list_zip(toks[1:len(toks)-1], toks[2:len(toks)])) AS u(p)
         |  GROUP BY 1, 2),
         |m$i AS MATERIALIZED (SELECT a, b, cnt FROM p$i ORDER BY cnt DESC, a, b LIMIT 1),
         |t$i AS MATERIALIZED (
         |  SELECT word, freq,
         |    list_reduce(list_transform(toks, x -> [x]),
         |      (acc, x) -> CASE WHEN acc[-1] = m.a AND x[1] = m.b
         |                  THEN list_append(acc[1:len(acc)-1], m.a || m.b)
         |                  ELSE list_concat(acc, x) END) AS toks
         |  FROM t${i - 1}, m$i AS m)""".stripMargin
    }
    (t0 +: rounds).mkString("WITH ", ",\n", "")
  }

  /** Oracle for [[learnMerges]]: the rank-ordered merge table. */
  def learnOracleSql(table: String, text: String, k: Int): String = {
    val union = (1 to k)
      .map(i => s"SELECT $i AS merge_rank, a, b, a || b AS merged, cnt FROM m$i")
      .mkString("\nUNION ALL ")
    s"""${chainSql(table, text, k)}
       |SELECT * FROM (
       |$union)
       |ORDER BY merge_rank""".stripMargin
  }

  /** Oracle for [[vocabulary]]: unnest the final vocab tokenization,
    * weighted by word frequency. */
  def vocabularyOracleSql(table: String, text: String, k: Int): String =
    s"""${chainSql(table, text, k)}
       |SELECT token, sum(freq)::BIGINT AS freq
       |FROM (SELECT unnest(toks) AS token, freq FROM t$k)
       |GROUP BY token ORDER BY token""".stripMargin

  /** Oracle for [[encode]] when the merges were learned on the SAME
    * corpus: join the final vocab tokenization back to the exploded
    * text. */
  def encodeOracleSql(table: String, id: String, text: String, k: Int): String =
    s"""${chainSql(table, text, k)},
       |dw AS (SELECT $id, unnest(regexp_extract_all(lower($text), '$wordRe')) AS word
       |       FROM $table)
       |SELECT dw.$id, count(*)::BIGINT AS n_words, sum(len(tk.toks))::BIGINT AS n_tokens
       |FROM dw JOIN t$k tk USING (word)
       |GROUP BY dw.$id ORDER BY dw.$id""".stripMargin
}
