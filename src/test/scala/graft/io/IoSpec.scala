package graft.io

import graft.SparkSpecBase
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths => JPaths}
import scala.jdk.CollectionConverters._

class IoSpec extends SparkSpecBase {

  private def tmpDir(): String =
    Files.createTempDirectory("graft-io").toString

  test("S5: all-people CSV projection keeps the 9-column contract and strips commas") {
    val s = spark; import s.implicits._
    val df = Seq(
      ("p1", "Alice", "lead, compositor", "m1", "weta, digital", 95, "1999-01-01", "c1", "Weta Digital")
    ).toDF("personId", "personName", "personRole", "imdbMovieId", "searchedCompany",
           "searchedMatchRatio", "movieReleaseYear", "matchedCompanyId", "matchedCompanyName")
    val out = Sinks.allPeopleCsvProjection(df)
    assert(out.columns.toSeq === Sinks.allPeopleCols)
    val row = out.head
    assert(row.getString(2) === "lead compositor")  // comma stripped (dwwApi.js:33)
    assert(row.getString(4) === "weta digital")

    val dir = tmpDir() + "/people"
    Sinks.writeCsv(out, dir, Sinks.allPeopleCols)
    val files = Files.list(JPaths.get(dir)).iterator().asScala.filter(_.toString.endsWith(".csv")).toSeq
    val lines = files.flatMap(f => Files.readAllLines(f).asScala)
    assert(lines.head === Sinks.allPeopleCols.mkString(","))
    assert(lines(1) === "p1,Alice,lead compositor,m1,weta digital,95,1999-01-01,c1,Weta Digital")
  }

  test("S3: partitioned parquet sink lays out label-index directories") {
    val s = spark; import s.implicits._
    val df = Seq(("a", 1), ("b", 2)).toDF("label", "v")
    val dir = tmpDir() + "/nodes"
    Sinks.writePartitioned(df, dir, Seq("label"))
    val parts = Files.list(JPaths.get(dir)).iterator().asScala.map(_.getFileName.toString).toSet
    assert(parts.contains("label=a") && parts.contains("label=b"))
    assert(spark.read.parquet(dir).count() === 2)
  }

  test("training-shard sink: one pack directory per pack_id, one file per pack, pack-order rows") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val packed = graft.llm.TextAnalysis
      .packByTokenBudget(docs, "doc_id", "text", budget = 4096)
    val dir = tmpDir() + "/shards"
    Sinks.writeTrainingShards(packed, "doc_id", dir)
    val partDirs = Files.list(JPaths.get(dir)).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("pack_id=")).toSeq
    val nPacks = packed.select("pack_id").distinct().count()
    assert(partDirs.size.toLong === nPacks, "one directory per pack")
    // each pack directory holds exactly ONE data file (repartition by
    // pack_id prevents the tasks×packs small-file explosion)
    partDirs.foreach { p =>
      val files = Files.list(JPaths.get(dir, p)).iterator().asScala
        .filter(_.toString.endsWith(".parquet")).toSeq
      assert(files.size === 1, s"$p has ${files.size} files")
    }
    // roundtrip: same (doc_id → pack_id) assignment
    val back = spark.read.parquet(dir)
      .select(col("doc_id"), col("pack_id").cast("long").as("pack_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val want = packed.select("doc_id", "pack_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(back === want)
  }

  test("S11: dim upsert preserves a versioned backup snapshot (dwwRoutes.js:131-172)") {
    val s = spark; import s.implicits._
    val base = tmpDir()
    val v1 = Seq(("weta", "Weta Digital")).toDF("search", "name")
    Sinks.upsertWithBackup(spark, v1, base, "companyMap", 1L)
    val v2 = Seq(("weta", "Weta FX")).toDF("search", "name")
    Sinks.upsertWithBackup(spark, v2, base, "companyMap", 2L)
    assert(spark.read.parquet(s"$base/companyMap").head.getString(1) === "Weta FX")
    assert(spark.read.parquet(s"$base/backups/companyMap_2").head.getString(1) === "Weta Digital")
  }

  test("S2: incremental load is a left-anti join on id") {
    val s = spark; import s.implicits._
    val incoming = Seq(1, 2, 3, 4).toDF("id")
    val staged = Seq(2, 4).toDF("id")
    val out = Sources.incrementalLoad(incoming, staged, "id").collect().map(_.getInt(0)).sorted
    assert(out === Array(1, 3))
  }

  test("S9: map-file source validates maptype (GetWeta.py:811-831)") {
    val s = spark; import s.implicits._
    val dir = tmpDir()
    Seq(("companymap", "weta")).toDF("maptype", "search")
      .write.mode("overwrite").json(s"$dir/map.json")
    assert(Sources.mapFile(spark, s"$dir/map.json", "companymap").count() === 1)
    intercept[IllegalArgumentException] {
      Sources.mapFile(spark, s"$dir/map.json", "rolemap")
    }
  }

  test("S8/S12: header CSV and JSON document sources round-trip") {
    val s = spark; import s.implicits._
    val dir = tmpDir()
    Seq(("weta digital", -41.3, 174.8), ("framestore", 51.5, -0.1))
      .toDF("company", "lat", "lon")
      .write.option("header", "true").mode("overwrite").csv(s"$dir/geo")
    val csv = Sources.csv(spark, s"$dir/geo")
    assert(csv.columns.toSeq === Seq("company", "lat", "lon"))
    assert(csv.count() === 2)
    assert(csv.schema("lat").dataType === org.apache.spark.sql.types.DoubleType)

    Seq(("p1", "Alice")).toDF("id", "name").write.mode("overwrite").json(s"$dir/docs")
    val json = Sources.json(spark, s"$dir/docs")
    assert(json.select("id", "name").head.getString(1) === "Alice")
  }

  test("S10: flattener projects nested fields to scalar columns") {
    val s = spark; import s.implicits._
    val nested = Seq((1, ("x", 2.0))).toDF("id", "payload")
    val flat = Sources.flatten(nested, Seq("id", "payload._1", "payload._2"))
    assert(flat.columns.toSeq === Seq("id", "payload__1", "payload__2"))
  }

  test("S7: serving envelope wraps docs with dim echo and roundtrips through JSON") {
    val s = spark; import s.implicits._
    import graft.analytics.Envelope
    val docs = Seq(
      ("p1", "Alice", Seq(("m1", false, "Weta Digital"), ("m1", true, "Weta Digital"),
                          ("m2", false, "Framestore"))),
      ("p2", "Bob", Seq(("m3", false, "Framestore")))
    ).toDF("id", "name", "rels")
    val companyLoc = Seq(("Weta Digital", "-41.3,174.8"), ("Framestore", "51.5,-0.1"),
      ("Weta Digital", "-41.3,174.8")).toDF("company", "geoLoc")
    val regions = Seq(("wellington", "-41.3,174.8", "oceania"),
      ("london", "51.5,-0.1", "europe")).toDF("location", "geoLoc", "globalRegion")
    val globalRegions = Seq(("oceania", "-25.0,140.0"), ("europe", "50.0,9.0"))
      .toDF("region", "coords")

    val env = Envelope.unfiltered(docs, companyLoc, regions, globalRegions)
    assert(env.count() === 1)
    val row = env.head
    assert(row.getAs[Seq[_]]("jumps").size === 2)
    assert(row.getAs[Map[String, String]]("locations") ===
      Map("Weta Digital" -> "-41.3,174.8", "Framestore" -> "51.5,-0.1"))
    assert(row.getAs[Map[String, _]]("regions").keySet === Set("wellington", "london"))
    assert(row.getAs[Map[String, String]]("globalRegions")("europe") === "50.0,9.0")

    // roundtrip: the envelope written as one JSON document reads back with
    // identical inner docs (S7 sink + S12 source)
    val dir = tmpDir() + "/envelope"
    Sinks.writeJson(env, dir)
    val back = spark.read.schema(env.schema).json(dir)
    assert(back.count() === 1)
    val inner = back.select(explode(col("jumps")).as("p")).select("p.id", "p.name", "p.rels")
    val orig = docs.select("id", "name", "rels")
    assert(inner.exceptAll(orig).count() === 0 && orig.exceptAll(inner).count() === 0)

    // keyed directional envelope shape (dwwApi.js:176-189)
    val grouped = Seq(("Weta Digital", Seq(("Alice", 1L)), 1L), ("Framestore", Seq(("Bob", 2L)), 1L))
      .toDF("company", "people", "total")
    val keyed = Envelope.directionalKeyed(grouped, "company", "in")
    val krow = keyed.head
    assert(krow.getString(0) === "in")
    assert(krow.getAs[Map[String, _]]("jumps").keySet === Set("Weta Digital", "Framestore"))

    // flat directional envelope, grouping=none (dwwApi.js:157-175): one
    // sorted jump list under the direction
    val jumps = Seq(("Bob", "comp", "2019", "Framestore", "london", "europe"),
      ("Alice", "anim", "2018", "Weta Digital", "wellington", "oceania"))
      .toDF("person", "role", "date", "company", "location", "region")
    val frow = Envelope.directionalFlat(jumps, "out").head
    assert(frow.getString(0) === "out")
    assert(frow.getAs[Seq[org.apache.spark.sql.Row]]("jumps").map(_.getString(0)) ===
      Seq("Alice", "Bob"))
  }

  test("compact repacks fragments toward the target size, zero shuffle, data intact") {
    val s = spark; import s.implicits._
    val dir = tmpDir()
    val df = (1L to 5000L).map(i => (i, s"row_$i")).toDF("k", "v")
    df.repartition(10).write.mode("overwrite").parquet(s"$dir/frag")
    // target a third of the total: ceil division must land on 3-4 files
    val probe = Sinks.compact(s, s"$dir/frag", s"$dir/probe", Long.MaxValue)
    val total = probe._3
    val (nb, na, _) = Sinks.compact(s, s"$dir/frag", s"$dir/packed", total / 3 + 1)
    assert(nb === 10)
    // coalesce(n) writes AT MOST n files (fewer when the read-side split
    // packing already merged the fragments below n — that packing depends
    // on session history, so pin the contract, not the split count)
    val nTarget = math.ceil(total.toDouble / (total / 3 + 1)).toInt
    assert(na <= nTarget && na >= 1 && na < nb, s"nb=$nb na=$na target=$nTarget")
    // data equality after the rewrite
    val back = s.read.parquet(s"$dir/packed")
    assert(back.exceptAll(df).count() === 0 && df.exceptAll(back).count() === 0)
    // narrow re-pack: the compaction plan must contain no Exchange
    val plan = s.read.parquet(s"$dir/frag").coalesce(3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("compact hits exactly ceil(bytes/target) files under a pinned reader split config") {
    // the exact-equality contract lives HERE, not in the s18 query: it
    // holds only when the parquet scan keeps at least `want` input splits
    // (coalesce can merge but never raise the partition count), which
    // depends on spark.sql.files.maxPartitionBytes — so pin it low enough
    // that the 10 fragments can't pack below `want` splits
    val s = spark; import s.implicits._
    val dir = tmpDir()
    (1L to 5000L).map(i => (i, s"row_$i")).toDF("k", "v")
      .repartition(10).write.mode("overwrite").parquet(s"$dir/frag")
    val before = s.conf.get("spark.sql.files.maxPartitionBytes")
    s.conf.set("spark.sql.files.maxPartitionBytes", (8L * 1024 * 1024).toString)
    try {
      val total = Sinks.compact(s, s"$dir/frag", s"$dir/probe2", Long.MaxValue)._3
      val target = total / 3 + 1
      val want = math.ceil(total.toDouble / target).toInt
      val (_, na, _) = Sinks.compact(s, s"$dir/frag", s"$dir/exact", target)
      assert(na === want, s"na=$na want=$want under pinned 8MB splits")
    } finally s.conf.set("spark.sql.files.maxPartitionBytes", before)
  }

  test("canonicalJson escaping matches json.dumps on hostile strings") {
    // The e2e fixture's corpus is ASCII-clean, so the escape branches of
    // Envelope.canonicalJson never fire there; this pins them against an
    // expected literal generated with Python's
    // json.dumps(sort_keys=True, separators=(',',':'), ensure_ascii=False)
    // — the exact oracle-side renderer: quotes, backslashes, short-escape
    // control chars (\n, \t), \u00XX control chars (), non-ASCII
    // passthrough, and null fields (incl. a null STRING field in a rel —
    // a bare concat would silently drop the whole rel).
    val s = spark; import s.implicits._
    import graft.analytics.Envelope
    val docs = Seq((
      "p\"1", "A\\li\"cé",
      Seq(
        (0L, Option.empty[String], "Art\\ist", 123L, false, "St\"u\nX", "l\\o\tz", Option("1,2")),
        (1L, Option("m1"), "Art\\ist", 456L, true, "St\"u\nX", "l\\o\tz", Option.empty[String]))
    )).toDF("id", "name", "raw")
      .select(col("id"), col("name"), transform(col("raw"), r => struct(
        r.getField("_1").as("seq"), r.getField("_2").as("imdbMovieId"),
        r.getField("_3").as("personMappedRole"),
        r.getField("_4").as("movieReleaseYear"), r.getField("_5").as("dummy"),
        r.getField("_6").as("matchedCompanyName"), r.getField("_7").as("region"),
        r.getField("_8").as("location"))).as("rels"))
    val env = Envelope.unfiltered(
      docs,
      Seq(("St\"u\nX", "1,2")).toDF("company", "geoLoc"),
      Seq(("l\\o\tz", "1,2", "ré")).toDF("location", "geoLoc", "globalRegion"),
      Seq(("ré", "9,9")).toDF("region", "coords"))
    val got = Envelope.canonicalJson(env).head.getString(0)
    val expected = "{\"globalRegions\":{\"ré\":\"9,9\"},\"jumps\":[{\"id\":\"p\\\"1\",\"name\":\"A\\\\li\\\"c\\u0001é\",\"rels\":[{\"dummy\":false,\"imdbMovieId\":null,\"location\":\"1,2\",\"matchedCompanyName\":\"St\\\"u\\nX\",\"movieReleaseYear\":123,\"personMappedRole\":\"Art\\\\ist\",\"region\":\"l\\\\o\\tz\",\"seq\":0},{\"dummy\":true,\"imdbMovieId\":\"m1\",\"location\":null,\"matchedCompanyName\":\"St\\\"u\\nX\",\"movieReleaseYear\":456,\"personMappedRole\":\"Art\\\\ist\",\"region\":\"l\\\\o\\tz\",\"seq\":1}]}],\"locations\":{\"St\\\"u\\nX\":\"1,2\"},\"regions\":{\"l\\\\o\\tz\":{\"geoLoc\":\"1,2\",\"globalRegion\":\"ré\"}}}"
    assert(got === expected)
    // r16 kernel pin: the fused jumps_json renderer must emit the exact
    // bytes of the Column-chain reference it replaced, on the same
    // hostile fixture (escapes, nulls, booleans, longs)
    val viaKernel = env
      .select(graft.functions.JumpsJson(col("jumps")).as("jumps_json"))
      .head.getString(0)
    val viaColumns = Envelope.jumpsJsonReference(env).head.getString(0)
    assert(viaKernel === viaColumns)
    assert(expected.contains(viaKernel), "kernel render is the jumps section of the envelope")
  }

  test("JumpsJson kernel ≡ reference on null rels, a null doc and a null rel; id/name must be strings") {
    import graft.analytics.Envelope
    val relT = "struct<dummy:boolean,imdbMovieId:string,location:string,matchedCompanyName:string," +
      "movieReleaseYear:bigint,personMappedRole:string,region:string,seq:bigint>"
    val rel = "named_struct('dummy', true, 'imdbMovieId', 'm1', 'location', 'l', " +
      "'matchedCompanyName', 'c', 'movieReleaseYear', 2001L, 'personMappedRole', 'r', " +
      "'region', 'g', 'seq', 0L)"
    // the null-rels doc comes first, so a dropped doc must not leave a comma
    val env = spark.sql(s"""SELECT array(
      |  named_struct('id', 'p2', 'name', 'b', 'rels', CAST(NULL AS array<$relT>)),
      |  named_struct('id', 'p1', 'name', 'a', 'rels', array($rel, CAST(NULL AS $relT))),
      |  CAST(NULL AS struct<id:string,name:string,rels:array<$relT>>),
      |  named_struct('id', 'p3', 'name', CAST(NULL AS STRING), 'rels', array($rel))
      |) AS jumps""".stripMargin)
    val viaKernel = env
      .select(graft.functions.JumpsJson(col("jumps")).as("jumps_json"))
      .head.getString(0)
    assert(viaKernel === Envelope.jumpsJsonReference(env).head.getString(0))
    val relJson = "{\"dummy\":true,\"imdbMovieId\":\"m1\",\"location\":\"l\"," +
      "\"matchedCompanyName\":\"c\",\"movieReleaseYear\":2001,\"personMappedRole\":\"r\"," +
      "\"region\":\"g\",\"seq\":0}"
    val nullRel = "{\"dummy\":null,\"imdbMovieId\":null,\"location\":null," +
      "\"matchedCompanyName\":null,\"movieReleaseYear\":null,\"personMappedRole\":null," +
      "\"region\":null,\"seq\":null}"
    assert(viaKernel === s"""{"id":"p1","name":"a","rels":[$relJson,$nullRel]},""" +
      s"""{"id":"p3","name":null,"rels":[$relJson]}""")
    val intId = spark.sql(s"SELECT array(named_struct('id', 1, 'name', 'a', 'rels', array($rel))) AS jumps")
    val err = intercept[org.apache.spark.sql.AnalysisException](
      intId.select(graft.functions.JumpsJson(col("jumps"))).head())
    assert(err.getMessage.contains("id: string"), err.getMessage)
  }
}
