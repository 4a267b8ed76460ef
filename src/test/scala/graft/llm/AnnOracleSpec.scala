package graft.llm

import graft.SparkSpecBase
import org.apache.spark.sql.functions.col

/** Oracle guard for the portable ANN family: each query's Spark rows
  * equal the rows of its DuckDB oracle, replayed in an in-JVM DuckDB
  * over the same parquet files. The comparison is tools/check.py's:
  * columns matched by name, rows sorted, doubles rounded to 9 dp, NaN
  * equal to NaN, integral widths ignored (Spark INT rank vs DuckDB
  * BIGINT row_number). The registry data at this scale holds no exact
  * nearest-cell ties, so one more test plants them. */
class AnnOracleSpec extends SparkSpecBase {

  private val sf = "/root/testdata/sf0.001"
  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private lazy val duck: java.sql.Connection = {
    Class.forName("org.duckdb.DuckDBDriver")
    val c = java.sql.DriverManager.getConnection("jdbc:duckdb:")
    val st = c.createStatement()
    tables.foreach(t => st.execute(s"CREATE VIEW $t AS SELECT * FROM '$sf/$t.parquet'"))
    st.close()
    c
  }

  override def afterAll(): Unit = { duck.close(); super.afterAll() }

  private def cell(v: Any): String = v match {
    case null => "NULL"
    case d: java.lang.Double => num(d.doubleValue)
    case f: java.lang.Float => num(f.doubleValue)
    case n: java.lang.Number => n.longValue.toString
    case other => other.toString
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else new java.math.BigDecimal(d).setScale(9, java.math.RoundingMode.HALF_EVEN)
      .stripTrailingZeros.toPlainString

  /** Rows as sorted strings, each row's cells in column-name order. */
  private def canon(cols: Seq[String], rows: Seq[Seq[Any]]): Seq[String] = {
    val order = cols.zipWithIndex.sortBy(_._1).map(_._2)
    rows.map(r => order.map(i => cell(r(i))).mkString("|")).sorted
  }

  private def oracleRows(sql: String): (Seq[String], Seq[Seq[Any]]) = {
    val st = duck.createStatement()
    try {
      val rs = st.executeQuery(sql)
      val md = rs.getMetaData
      val cols = (1 to md.getColumnCount).map(md.getColumnLabel)
      val rows = Iterator.continually(rs).takeWhile(_.next())
        .map(r => cols.indices.map(i => r.getObject(i + 1))).toVector
      (cols, rows)
    } finally st.close()
  }

  test("nearest-cell ties go to the smaller cell on both engines") {
    val s = spark; import s.implicits._
    // centroids on a square's corners; rows 1-4 are equidistant from two
    // or four of them, so only the tie-break decides their cell
    val cents = IndexedSeq(0 -> Seq(0.0, 0.0), 1 -> Seq(2.0, 0.0),
      2 -> Seq(0.0, 2.0), 3 -> Seq(2.0, 2.0))
    val rows = Seq(1L -> Seq(1.0, 0.0), 2L -> Seq(0.0, 1.0), 3L -> Seq(1.0, 1.0),
      4L -> Seq(2.0, 1.0), 5L -> Seq(3.0, 3.0))
    val mine = rows.toDF("pid", "pv")
      .select(col("pid"), Ivf.pqCodeFrozen(col("pv"), cents).as("cell"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    def values(vs: Seq[String]) = vs.mkString("(VALUES ", ", ", ")")
    def arr(v: Seq[Double]) = v.map(x => s"$x::DOUBLE").mkString("[", ", ", "]")
    val sql =
      s"""WITH r AS (SELECT * FROM ${values(rows.map { case (p, v) => s"($p::BIGINT, ${arr(v)})" })} t(pid, pv)),
         |c AS (SELECT * FROM ${values(cents.map { case (c, v) => s"($c, ${arr(v)})" })} t(cell, cv))
         |SELECT pid, cell FROM (${Ivf.nearestCellSql("r", "c", 2)})""".stripMargin
    val theirs = oracleRows(sql)._2
      .map(r => r(0).asInstanceOf[Number].longValue -> r(1).asInstanceOf[Number].intValue).toMap
    assert(mine === Map(1L -> 0, 2L -> 0, 3L -> 0, 4L -> 1, 5L -> 3))
    assert(theirs === mine)
  }

  for (name <- Seq("sim5b_ivf_portable", "sim6b_pq_portable", "sim8b_ivfadc_portable",
                   "sim9_incremental_ann", "sim10_ann_recall", "dd10_semantic_dedup",
                   "emb3_pca_semdedup"))
    test(s"$name equals its DuckDB oracle") {
      val q = graft.SparkEntry.all.find(_.name == name).get
      val sql = q.oracle.orElse(q.oracleFn.map(_(spark, sf))).get
      val out = q.fn(spark, sf)
      val mine = canon(out.columns.toSeq, out.collect().toSeq.map(_.toSeq))
      val (cols, rows) = oracleRows(sql)
      assert(out.columns.sorted.toSeq === cols.sorted, "column names differ")
      val theirs = canon(cols, rows)
      assert(mine.size === theirs.size, "row counts differ")
      val bad = mine.zip(theirs).filter { case (a, b) => a != b }
      assert(bad.isEmpty,
        s"${bad.size} of ${mine.size} rows differ, e.g. ${bad.take(3).mkString("; ")}")
    }
}
