package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.Ckpt._
import graft.llm.{Dedup, TextAnalysis}

/** Batch workload: the registry query `e2e_llm_pipeline`, called by name,
  * over a generated corpus (`<data>/documents.parquet`). The traced run
  * replays the same composition stage by stage inside spans and must
  * reach the same output hash as the registry query. */
final class LlmCuration(data: String, work: String) extends Workload {
  val QueryName = "e2e_llm_pipeline"
  /** One pass more than the rebuild's: a pass costs about 4 s, and the
    * fastest of four lies further down the JIT's slope than the fastest of
    * three (in five long runs on 500 documents, the spread across seeds of
    * the fastest of the first three passes was 0.17, of four 0.13). */
  val MinPasses = Main.MinPasses + 1
  private var spark: SparkSession = _
  private val query = graft.SparkEntry.all.find(_.name == QueryName).get

  def stage(s: SparkSession): Unit = {
    spark = s
    s.read.parquet(s"$data/documents.parquet").count()
  }

  def warmup(): Unit = pass()

  private def hash(rows: Array[Row]): String = Main.md5(Dww.rowsKey(rows).mkString("\n"))

  /** One untraced pass: the registry query, fully collected. */
  private def pass(): Array[Row] = {
    val rows = query.fn(spark, data).collect()
    graft.SessionHygiene.release(spark, Nil)
    rows
  }

  /** The e2e_llm_pipeline composition (queries/LlmQueries.scala), one span
    * per stage, each stage output materialized inside its span. Returns
    * the output rows and the stage counters. */
  private def tracedPass(t: Tracer, run: String): (Array[Row], Map[String, Long]) =
    t("llm_curation.pass", run) {
      def mat(df: DataFrame): DataFrame = df.localCheckpoint()
      val docs = spark.read.parquet(s"$data/documents.parquet")
      val train = docs.filter(col("doc_id") % 17 =!= 0).select("doc_id", "source", "text")
      val bench = docs.filter(col("doc_id") % 17 === 0)
      val quality = t("llm.quality", run)(mat(TextAnalysis.gopherRules(train, "text")
        .filter(col("gopher_pass")).select("doc_id", "source", "text")))
      val exact = t("llm.exact_dedup", run)(Dedup.exactSurvivors(quality, "doc_id", "text").ckpt())
      val sig = t("llm.signature", run)(Dedup.estimateSigTable(exact, "doc_id", "text", n = 3))
      val (cands, edges) = t("llm.verify", run) {
        val banded = sig.select(col("doc"), explode(array((0 until 8).map(b =>
            struct(lit(b).as("band"), slice(col("sig"), b * 4 + 1, 4).as("key"))): _*)).as("bb"))
          .select(col("doc"), col("bb.band").as("band"), col("bb.key").as("key"))
        val cands = mat(banded.as("a").join(banded.as("b"),
            col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
              col("a.doc") < col("b.doc"))
          .select(col("a.doc").as("id1"), col("b.doc").as("id2"))
          .distinct())
        val pruned = cands
          .join(sig.select(col("doc").as("id1"), col("sig").as("s1")), "id1")
          .join(sig.select(col("doc").as("id2"), col("sig").as("s2")), "id2")
          .filter(graft.functions.AgreeCount(col("s1"), col("s2")) >= 20)
          .select("id1", "id2")
        (cands, mat(Dedup.ngramJaccard(exact, "doc_id", "text", 3, pruned, hashGrams = false)
          .filter(col("jaccard") >= 0.8).select("id1", "id2")))
      }
      val nearSurv = t("llm.components", run) {
        val comp = Dedup.connectedComponents(edges).withColumnRenamed("id", "doc_id")
        mat(exact.join(comp, Seq("doc_id"), "left")
          .filter(coalesce(col("component"), col("doc_id")) === col("doc_id"))
          .select("doc_id", "source", "text"))
      }
      val clean = t("llm.decontaminate", run)(nearSurv.join(
          Dedup.contaminatedIds(nearSurv, "doc_id", "text", bench, "text", n = 8, hashGrams = false),
          Seq("doc_id"), "left_anti").ckpt())
      val rows = t("llm.pack_split", run) {
        val packed = TextAnalysis.packByTokenBudget(clean, "doc_id", "text",
          budget = 256, keep = Seq("source"))
        TextAnalysis.stratifiedSplit(packed, "doc_id", valFrac = 0.1, testFrac = 0.1)
          .select("doc_id", "source", "split", "n_tokens", "cum_tokens", "pack_id")
          .orderBy("doc_id").collect()
      }
      val counts = Map("llm.candidate_pairs" -> cands.count(), "llm.verified_edges" -> edges.count())
      graft.SessionHygiene.release(spark, Nil)
      (rows, counts)
    }

  /** One registry call with its planning (the query definition, including
    * any eager checkpoints it runs, up to `executedPlan`) and execution
    * timed apart. */
  private def registryCall(t: Tracer, run: String): Array[Row] = t("llm_curation.request", run) {
    val df = t("queries.plan", run) {
      val d = query.fn(spark, data)
      d.queryExecution.executedPlan
      d
    }
    val rows = t("queries.exec", run)(df.collect())
    graft.SessionHygiene.release(spark, Nil)
    rows
  }

  /** The native MinHash kernel timed alone over the corpus' word-hash
    * arrays (median of 5 noop-sink sweeps). */
  private def minhashNsPerRow(): Double = {
    // 100 copies of each document's array, so per-job overhead is spread
    // thin enough for the figure to be the kernel's
    val h = spark.read.parquet(s"$data/documents.parquet")
      .select(transform(split(lower(col("text")), "\\s+"), w => graft.functions.Md5Prefix(w, 7)).as("h"))
      .crossJoin(spark.range(100))
      .select("h")
      .localCheckpoint()
    val n = h.count()
    val ns = (1 to 5).map { _ =>
      val t0 = System.nanoTime()
      h.select(graft.functions.PortableMinHashFromHashes(col("h"), 32).as("sig"))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0).toDouble / n
    }.sorted.apply(2)
    graft.SessionHygiene.release(spark, Nil)
    ns
  }

  def measure(seconds: Double, t: Tracer): Map[String, Any] = {
    val same = (a: Array[Row], b: Array[Row]) => hash(a) == hash(b)
    val (untraced, traced) = (new Samples(same), new Samples(same))
    var counts = Map.empty[String, Long]
    // traced runs alternate untraced and traced passes, so the JIT's
    // warm-up drifts both alike and their difference is the tracing cost
    Samples.loop(seconds, MinPasses) { i =>
      untraced.once(pass())
      if (t.enabled) traced.once {
        val (rows, c) = tracedPass(t, s"traced$i")
        counts = c
        rows
      }
    }
    val out = untraced.first
    val outputs: Map[String, Any] = if (out == null) Map.empty else {
      val dir = s"$work/llm_out"
      Files.createDirectories(Paths.get(dir))
      Files.write(Paths.get(s"$dir/oracle.sql"),
        query.oracle.get.getBytes(StandardCharsets.UTF_8))
      Map("columns" -> out.head.schema.fieldNames.toSeq,
        "rows" -> out.map(_.toSeq).toSeq, "oracle_sql" -> s"$dir/oracle.sql")
    }
    val base = Map("samples" -> untraced.toJson, "outputs" -> outputs)
    if (!t.enabled) base
    else {
      val calls = (0 until 2).map(i => registryCall(t, s"request$i"))
      val sameHash = out != null && traced.first != null &&
        (traced.first +: calls).forall(rows => hash(rows) == hash(out))
      base ++ Map("traced_samples" -> traced.toJson, "layers" -> (counts ++ Map(
        "trace.same_output_hash" -> sameHash, "functions.minhash_ns_per_row" -> minhashNsPerRow())))
    }
  }
}
