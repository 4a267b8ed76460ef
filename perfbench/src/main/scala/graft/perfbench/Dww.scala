package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.analytics.{Density, DwwPipeline, Envelope, Paths}
import graft.etl.Normalize
import graft.functions.Scalars
import graft.graph.Graph
import graft.io.Sinks

/** The generated DWW inputs (gen_credits.py): the raw credits are staged
  * in memory, the small dimensions are read where they are used. */
final class DwwInputs(spark: SparkSession, dir: String) {
  private def read(n: String) = spark.read.parquet(s"$dir/$n.parquet")
  val raw = read("raw_credits").persist(StorageLevel.MEMORY_ONLY)
  raw.count()
  val companyMap = read("company_map")
  val roleMap = read("role_map")
  val locations = read("locations")
  val regions = read("regions")
  val globalRegions = read("global_regions")

  /** The envelope's region dimension: (location, geoLoc, globalRegion). */
  def regionDim: DataFrame = locations.join(regions, "location")
    .select(col("location"), col("geoLoc"), col("globalRegion"))

  def credits: DataFrame = Normalize.credits(raw, companyMap, roleMap, locations, regions)
}

/** The stage inputs every DWW pass derives from the credits fact. */
object Dww {
  /** Graph iteration counts of the rebuild: enough rounds to exercise the
    * iterative loops without letting them crowd out the etl stages. */
  val PagerankIters = 2
  val LabelIters = 1
  val DensityKeys = Density.Keys("personId", Seq("releaseStr", "movieId"),
    "matchedCompanyName", "trueRole", "year")
  val PathKeys = Paths.Keys("personId", Seq("releaseStr", "movieId"),
    "matchedCompanyName", "lat", "lon", "movieReleaseYear")

  def densityInput(fact: DataFrame): DataFrame =
    DwwPipeline.servingCredits(fact).withColumn("year", year(col("releaseDate")))

  /** Jump rels with coordinates: the input of the path stages and of the
    * studio-transition graph. */
  def rels(fact: DataFrame): DataFrame = DwwPipeline.jumpRels(fact)
    .withColumn("lat", Scalars.parseGeo(col("geoLoc")).getField("lat"))
    .withColumn("lon", Scalars.parseGeo(col("geoLoc")).getField("lon"))

  /** Studio-transition graph from the jumps: node = numeric studio id,
    * edge weight = number of moves a → b. */
  def graph(rels: DataFrame): (DataFrame, DataFrame) = {
    val withNode = rels.withColumn("node", substring(col("matchedCompanyId"), 2, 10).cast("long"))
    val edges = Paths.pairs(withNode, PathKeys.copy(company = "node"))
      .groupBy(col("node").as("src"), col("to_company").as("dst"))
      .agg(count(lit(1)).cast("double").as("w"))
    (withNode.select("node").distinct(), edges)
  }

  def envelopeJson(docs: DataFrame, fact: DataFrame, in: DwwInputs): String =
    Envelope.canonicalJson(Envelope.unfiltered(docs,
      DwwPipeline.servingCredits(fact).select(col("matchedCompanyName").as("company"), col("geoLoc")),
      in.regionDim, in.globalRegions)).head().getString(0)

  def rowsKey(rows: Array[Row]): Seq[String] = rows.map(_.mkString("|")).sorted.toSeq
}

/** Batch workload: raw credits → Normalize.credits → credits fact written
  * through io → jumps docs + envelope → density → paths + role index →
  * pagerank + label propagation over the studio-transition graph. */
final class DwwRebuild(data: String, work: String) extends Workload {
  private var spark: SparkSession = _
  private var in: DwwInputs = _
  private val factDir = s"$work/credits_fact"

  def stage(s: SparkSession): Unit = { spark = s; in = new DwwInputs(s, data) }

  def warmup(): Unit = pass(new Tracer(spark, false), "warmup")

  /** One full rebuild. Traced: every stage output is materialized inside
    * its span before the next stage reads it. Returns the pass outputs the
    * checks read. */
  def pass(t: Tracer, run: String): Map[String, Any] = t("dww_rebuild.pass", run) {
    def mat(df: DataFrame): DataFrame = if (t.enabled) df.localCheckpoint() else df
    val credits = t("etl.normalize", run)(mat(in.credits))
    t("io.write", run)(Sinks.writePartitioned(credits, factDir, Seq("globalRegion")))
    val fact = spark.read.parquet(factDir)
    val docs = t("analytics.jumps_docs", run)(mat(DwwPipeline.jumpsDocs(fact)))
    val envelope = t("analytics.envelope", run)(Dww.envelopeJson(docs, fact, in))
    val density = t("analytics.density", run)(
      Density.totals(Density.build(Dww.densityInput(fact), Dww.DensityKeys)).collect())
    val rels = mat(Dww.rels(fact))
    val (expanded, roleIndex) = t("analytics.paths", run) {
      val ex = Paths.expand(rels, Dww.PathKeys)
      (ex.agg(count(lit(1)), sum(xxhash64(ex.columns.map(col): _*) % 1000003L)).head(),
        Paths.roleIndex(Paths.pairs(rels, Dww.PathKeys), "trueRole")
          .select("trueRole", "n_paths").collect())
    }
    val (nodes, edges) = Dww.graph(rels)
    val ranks = t("graph.pagerank", run)(
      Graph.pagerank(nodes, edges, iters = Dww.PagerankIters).collect())
    val labels = t("graph.label_propagation", run)(
      Graph.labelPropagation(nodes, edges, iters = Dww.LabelIters).collect())
    graft.SessionHygiene.release(spark, Seq(in.raw))
    Map(
      "envelope_md5" -> Main.md5(envelope), "envelope" -> envelope,
      "density" -> density.map(r => Seq(r.getString(0), r.getInt(1), r.getLong(2))).toSeq,
      "paths_rows" -> expanded.getLong(0), "paths_checksum" -> expanded.getLong(1),
      "role_index" -> roleIndex.map(r => Seq(r.getString(0), r.getLong(1))).toSeq,
      "pagerank_nodes" -> ranks.length, "pagerank_sum" -> ranks.map(_.getDouble(1)).sum,
      "labels" -> Dww.rowsKey(labels).mkString(";"))
  }

  /** Everything in a pass result that must repeat exactly across passes. */
  private def digest(out: Map[String, Any]): String = Main.md5(Seq(
    out("envelope_md5"), out("density").asInstanceOf[Seq[Seq[Any]]].map(_.mkString("|")).sorted,
    out("paths_rows"), out("paths_checksum"), out("role_index").toString, out("pagerank_nodes"),
    f"${out("pagerank_sum").asInstanceOf[Double]}%.6f", out("labels")).mkString("\n"))

  def measure(seconds: Double, t: Tracer): Map[String, Any] = {
    val same = (a: Map[String, Any], b: Map[String, Any]) => digest(a) == digest(b)
    val (untraced, traced) = (new Samples(same), new Samples(same))
    val off = new Tracer(spark, false)
    // traced runs alternate untraced and traced passes, so the JIT's
    // warm-up drifts both alike and their difference is the tracing cost
    Samples.loop(seconds) { i =>
      untraced.once(pass(off, s"pass$i"))
      if (t.enabled) traced.once(pass(t, s"traced$i"))
    }
    val fact = spark.read.parquet(factDir)
    val stats = fact.agg(count(lit(1)), sum(col("isMapped").cast("long")),
      sum((col("matchRatio") < 100).cast("long")), sum((col("trueRole") === "").cast("long")),
      sum((col("companySearch") =!= "").cast("long"))).head()
    val (_, edges) = Dww.graph(Dww.rels(fact))
    val graph = edges.agg(count(lit(1)), sum(col("w"))).head()
    val outputs = Map(
      "fact_rows" -> stats.getLong(0), "fact_mapped" -> stats.getLong(1),
      "fact_ratio_below_100" -> stats.getLong(2), "fact_empty_true_role" -> stats.getLong(3),
      "graph_edges" -> graph.getLong(0), "graph_weight" -> graph.getDouble(1)) ++
      Option(untraced.first).getOrElse(Map.empty)
    val base = Map("samples" -> untraced.toJson, "outputs" -> outputs)
    if (!t.enabled) base
    else base ++ Map("traced_samples" -> traced.toJson,
      "layers" -> (etlCounters(fact, stats.getLong(4), stats.getLong(1)) ++ kernels(fact)))
  }

  /** The etl layer's row counters, computed apart from the timed passes. */
  private def etlCounters(fact: DataFrame, parsed: Long, mapped: Long): Map[String, Any] = {
    val rowsIn = in.raw.count()
    val sentinel = in.raw
      .select(Scalars.parseNotes(col("notes"), lit("")).getField("company").as("s"))
      .join(in.companyMap, col("s") === col("search"))
      .filter(col("name").startsWith("zzz_baddata")).count()
    val rowsOut = fact.count()
    Map("etl.rows_in" -> rowsIn, "etl.rows_out" -> rowsOut,
      "etl.mapped_frac" -> mapped.toDouble / parsed,
      "etl.dedup_dropped" -> (rowsIn - sentinel - rowsOut),
      "io.bytes_written" -> dirBytes(new java.io.File(factDir)))
  }

  private def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) f.listFiles().map(dirBytes).sum
    else if (f.getName.endsWith(".parquet")) f.length() else 0L

  /** The two Scalars kernels of Normalize, timed alone in a JVM loop over
    * the staged columns (median of 5 sweeps). */
  private def kernels(fact: DataFrame): Map[String, Any] = {
    val pairs = fact.select(lower(trim(col("matchedCompanyName"))), lower(trim(col("companySearch"))))
      .collect().map(r => (r.getString(0), r.getString(1)))
    val notes = in.raw.select("notes").collect().map(_.getString(0))
    def nsPerRow(n: Int)(f: => Unit): Double =
      (1 to 5).map { _ => val t0 = System.nanoTime(); f; (System.nanoTime() - t0).toDouble / n }
        .sorted.apply(2)
    var sink = 0L // consumes every result, so the JIT cannot drop the calls
    val fuzz = nsPerRow(pairs.length)(pairs.foreach { case (a, b) => sink += Scalars.fuzzRatioRaw(a, b) })
    val parse = nsPerRow(notes.length)(notes.foreach(n => sink += Scalars.parseNotesRaw(n, "").company.length))
    Map("functions.fuzz_ratio_ns_per_row" -> fuzz, "functions.parse_notes_ns_per_row" -> parse,
      "kernel_sink" -> sink)
  }
}
