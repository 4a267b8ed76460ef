package graft.queries

import graft.Ckpt._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables
import graft.llm.{Bpe, Dedup, Ivf, Ivfadc, Multimodal, Pq, Similarity, TextAnalysis}
import graft.streaming.EventStreams

/** Training-data-pipeline operators over documents/embeddings/events:
  * dedup (exact, MinHash-LSH, SimHash, n-gram Jaccard), similarity search
  * (brute-force + LSH-bucketed ANN), text analysis, multimodal plumbing,
  * and the batch form of the streaming daily-window aggregation.
  *
  * Hash-algorithm-dependent results (xxhash64 signatures) are rows-only;
  * recall/quality properties are asserted in LlmSpec instead.
  */
object LlmQueries {

  private def t(s: SparkSession, d: String, n: String) = Tables.table(s, d, n)

  /** Synthetic coordinates shared by the geo tier (geo1/geo2). Every 7th
    * point sits ON the ±180° anti-meridian seam: even multiples of 35
    * just west of +180, odd multiples just east of −180, lat pinned to a
    * 0.2° band — so straddling pairs (e.g. custkeys 0↔35, ~25 km apart
    * across the seam) exist at every scale factor and exercise GeoJoin's
    * ring-wrapped lon cells. All literals double on BOTH engines
    * (::DOUBLE in [[geoCandsSql]]) so the coordinate chains are
    * bit-identical (the ts19 decimal-literal lesson). */
  private def geoPts(s: SparkSession, d: String): DataFrame =
    Tables.table(s, d, "customer")
      .filter(col("c_custkey") % 5 === 0)
      .select(col("c_custkey"),
        when(col("c_custkey") % 7 === 0,
          lit(40.0) + (col("c_custkey") * 7919 % 200) / 1000.0)
          .otherwise(lit(40.0) + (col("c_custkey") * 7919 % 4000) / 1000.0)
          .as("lat"),
        when(col("c_custkey") % 70 === 0,
          lit(179.82) + (col("c_custkey") * 104729 % 160) / 1000.0)
          .when(col("c_custkey") % 7 === 0,
            lit(-180.0) + (col("c_custkey") * 104729 % 160) / 1000.0)
          .otherwise(lit(-74.0) + (col("c_custkey") * 104729 % 4000) / 1000.0)
          .as("lon"))

  /** Exact cosine top-10 for the vec_id < 3 query set, ranked on the
    * 4dp-ROUNDED similarity with id tiebreak (engine-independent order) —
    * sim2b's pipeline, shared with the sim10 recall probe via
    * [[QueryMemo]] (top-k-bounded result: 30 rows of checkpoint, the
    * second rider skips the corpus scan). */
  private def exactTopKRounded(s: SparkSession, d: String): DataFrame =
    QueryMemo.frame(s, d, "sim_exact_topk") {
    val emb = t(s, d, "embeddings")
    val q = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val topk = udaf(new graft.llm.TopKAgg(10))
    emb.crossJoin(broadcast(q))
      .select(col("qid").as("query_id"), col("vec_id").cast("long").as("id"),
        round(Similarity.cosine(col("embedding"), col("qvec")), 4).as("sim"))
      .groupBy("query_id")
      .agg(topk(col("sim"), col("id")).as("tk"))
      .select(col("query_id"), posexplode(col("tk")))
      .select(col("query_id"), col("col.id").as("id"), col("col.sim").as("sim"),
        (col("pos") + 1).cast("int").as("rank"))
      .orderBy("query_id", "rank")
  }

  private val sim2bOracleSql: String =
    """WITH scored AS (
      |  SELECT q.vec_id AS query_id, e.vec_id AS id,
      |         round(list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 4) AS sim
      |  FROM embeddings e
      |  CROSS JOIN (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 3) q),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, id) AS rank
      |  FROM scored)
      |SELECT query_id, id, sim, rank::INT AS rank FROM ranked
      |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  /** Portable IVF top-10 (md5-Lloyd quantizer, 2-cell probe, in-cell
    * rerank) for the same query set — sim5b's pipeline, shared with the
    * sim10 recall probe via [[QueryMemo]] (the quantizer rounds run once
    * per pass, whichever rider comes first). */
  private def ivfPortableTopK(s: SparkSession, d: String): DataFrame =
    QueryMemo.frame(s, d, "sim_ivf_topk") {
      Ivf.portableTopK(t(s, d, "embeddings"), "vec_id", "embedding",
        k = 8, rounds = 4, nQueries = 3, nProbes = 2, kTop = 10)
    }

  private val sim5bOracleSql: String =
    Ivf.portableOracleSql("embeddings", "vec_id", "embedding",
      k = 8, rounds = 4, dim = 64, querySql = "pid < 3",
      nProbes = 2, kTop = 10)

  /** The brute-force n² oracle of [[geoPts]]'s 40 km proximity pairs:
    * (id1, id2, km) with km 4dp-rounded, membership on the unrounded
    * distance — exactly GeoJoin.withinDistance's output contract. Used
    * whole by geo1 and as the cands CTE body of geo2 (DuckDB accepts a
    * WITH inside a CTE body). */
  private val geoCandsSql: String =
    """WITH pts AS (
      |  SELECT c_custkey,
      |         CASE WHEN c_custkey % 7 = 0
      |           THEN 40.0::DOUBLE + (c_custkey * 7919 % 200) / 1000.0::DOUBLE
      |           ELSE 40.0::DOUBLE + (c_custkey * 7919 % 4000) / 1000.0::DOUBLE
      |         END AS lat,
      |         CASE WHEN c_custkey % 70 = 0
      |           THEN 179.82::DOUBLE + (c_custkey * 104729 % 160) / 1000.0::DOUBLE
      |           WHEN c_custkey % 7 = 0
      |           THEN -180.0::DOUBLE + (c_custkey * 104729 % 160) / 1000.0::DOUBLE
      |           ELSE -74.0::DOUBLE + (c_custkey * 104729 % 4000) / 1000.0::DOUBLE
      |         END AS lon
      |  FROM customer WHERE c_custkey % 5 = 0),
      |pairs AS (
      |  SELECT a.c_custkey AS id1, b.c_custkey AS id2,
      |         6371.0 * 2.0 * atan2(sqrt(
      |             pow(sin(radians(b.lat - a.lat) / 2), 2)
      |           + cos(radians(a.lat)) * cos(radians(b.lat))
      |           * pow(sin(radians(b.lon - a.lon) / 2), 2)),
      |           sqrt(1.0 - (pow(sin(radians(b.lat - a.lat) / 2), 2)
      |           + cos(radians(a.lat)) * cos(radians(b.lat))
      |           * pow(sin(radians(b.lon - a.lon) / 2), 2)))) AS km
      |  FROM pts a JOIN pts b ON a.c_custkey < b.c_custkey)
      |SELECT id1, id2, round(km, 4) AS km
      |FROM pairs WHERE km <= 40.0""".stripMargin

  /** dd6 and dd6b both key off the SAME component labeling (clusters, then
    * one survivor per cluster): memoized via [[QueryMemo]] — whichever
    * runs first pays for candidate generation + large-star/small-star. */
  /** tok1 publishes the merge table, tok2 encodes with it: one training
    * run (8 collect-1-row rounds over the vocab table) serves both. */
  private val bpeRounds = 8
  private def bpeMerges(s: SparkSession, d: String): Seq[Bpe.Merge] =
    QueryMemo.value(s, d, "bpe_merges") {
      Bpe.learnMerges(t(s, d, "documents"), "text", bpeRounds)
    }

  /** DuckDB replay of [[Multimodal.synthRgb]] over every (doc, x, y) —
    * the codec-free pixel oracle for the real-PNG tier (mm6…mm9): PNG is
    * lossless, so the decoded pixels equal this formula exactly. */
  private val mmRgbSql: String =
    """SELECT d.doc_id AS media_id, x.x, y.y,
      |       ((d.doc_id % 16) * 7  + x.x * 13 + y.y * 17) % 200 + (d.doc_id // 16) % 48 AS r,
      |       ((d.doc_id % 16) * 11 + x.x * 3  + y.y * 29) % 200 + (d.doc_id // 16) % 48 AS g,
      |       ((d.doc_id % 16) * 5  + x.x * 23 + y.y * 7)  % 200 + (d.doc_id // 16) % 48 AS b
      |FROM documents d,
      |     (SELECT unnest(generate_series(0, 31)) AS x) x,
      |     (SELECT unnest(generate_series(0, 31)) AS y) y""".stripMargin

  /** mm6…mm9 all decode the SAME synthetic PNG corpus: one memoized
    * encode pass (5000 images through the real codec) serves all four. */
  private def imageMemo(s: SparkSession, d: String): DataFrame =
    QueryMemo.frame(s, d, "mm_images") {
      Multimodal.imageTable(t(s, d, "documents"), "doc_id")
    }

  /** Sketch size of the two estimate-tier oracles. */
  private val estNh = 32

  /** DuckDB replay of [[Dedup.containmentEstimatePairs]] (dd21): dd19's
    * word-gram definition hashed to the md5-28 base, the shared LCG
    * minhash family, r=1 banding with the hot-bucket cap, the
    * exact-size J* sketch filter, and the exact list_intersect verify —
    * every constant generated from the SAME portableCoef family the
    * Scala side uses, so the two sides cannot drift. */
  private val containmentEstimateOracle: String = {
    val nh = estNh
    val minExprs = Dedup.portableMinsSql(nh)
    val bandRows = Dedup.portableBandRowsSql("mins", "doc_id", nh)
    val agreeSum = Dedup.portableAgreeSql(nh)
    s"""WITH grams AS (
       |  ${Dedup.wordGramsOracleSql("documents", 3, "gs")}),
       |sh AS (
       |  SELECT doc_id,
       |         ('0x' || substr(md5(unnest(gs)), 1, 7))::BIGINT AS h
       |  FROM grams),
       |gl AS (SELECT doc_id, list(h) AS g FROM sh GROUP BY doc_id),
       |mins AS (
       |  SELECT doc_id,
       |         $minExprs
       |  FROM sh GROUP BY doc_id),
       |bk AS (
       |  $bandRows),
       |keep AS (SELECT band, v FROM bk GROUP BY band, v
       |         HAVING count(*) BETWEEN 2 AND 100),
       |bkf AS (SELECT bk.doc_id, bk.band, bk.v FROM bk JOIN keep USING (band, v)),
       |cands AS (
       |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
       |  FROM bkf a JOIN bkf b
       |    ON a.band = b.band AND a.v = b.v AND a.doc_id < b.doc_id),
       |sized AS (
       |  SELECT c.id1, c.id2, len(na.g)::INT AS n1, len(nb.g)::INT AS n2
       |  FROM cands c JOIN gl na ON na.doc_id = c.id1
       |               JOIN gl nb ON nb.doc_id = c.id2
       |  WHERE greatest(len(na.g), len(nb.g))::DOUBLE / least(len(na.g), len(nb.g))
       |        <= 8.0::DOUBLE),
       |agr AS (
       |  SELECT s.id1, s.id2, s.n1, s.n2,
       |         ($agreeSum)::INT AS agree
       |  FROM sized s JOIN mins sa ON sa.doc_id = s.id1
       |               JOIN mins sb ON sb.doc_id = s.id2),
       |flt AS (
       |  SELECT id1, id2, n1, n2,
       |         agree::DOUBLE / $nh AS jhat,
       |         (0.5::DOUBLE * least(n1, n2)::DOUBLE) /
       |           ((n1 + n2) - 0.5::DOUBLE * least(n1, n2)::DOUBLE) AS jstar
       |  FROM agr),
       |kept AS (
       |  SELECT id1, id2,
       |         floor(jhat * (n1 + n2) / ((1.0::DOUBLE + jhat) * least(n1, n2)::DOUBLE)
       |               * 10000 + 0.5) / 10000.0 AS c_est
       |  FROM flt
       |  WHERE jhat >= jstar - 2.5::DOUBLE * sqrt(jstar * (1.0::DOUBLE - jstar) / $nh)),
       |v AS (
       |  SELECT k2.id1, k2.id2, len(ga.g)::INT AS n1, len(gb.g)::INT AS n2,
       |         len(list_intersect(ga.g, gb.g))::INT AS shared, k2.c_est
       |  FROM kept k2 JOIN gl ga ON ga.doc_id = k2.id1
       |               JOIN gl gb ON gb.doc_id = k2.id2)
       |SELECT id1, id2, n1, n2, shared,
       |       floor(shared / n1 * 10000 + 0.5) / 10000.0 AS c1,
       |       floor(shared / n2 * 10000 + 0.5) / 10000.0 AS c2,
       |       c_est
       |FROM v
       |WHERE greatest(shared / n1, shared / n2) >= 0.5
       |ORDER BY id1, id2""".stripMargin
  }

  /** DuckDB replay of [[Dedup.containmentEstimateIncremental]] (dd22):
    * the dd21 chain in the ingest split — batch signatures probe the
    * capped corpus bucket index (floor 1: a single-doc corpus bucket
    * still pairs with the batch), verify reads split sides. */
  private val containmentEstimateIncrementalOracle: String = {
    val nh = estNh
    s"""WITH grams AS (
       |  ${Dedup.wordGramsOracleSql("documents", 3, "gs",
              Seq("doc_id", "(doc_id % 3 = 1) AS is_new"))}),
       |sh AS (
       |  SELECT doc_id, is_new,
       |         ('0x' || substr(md5(unnest(gs)), 1, 7))::BIGINT AS h
       |  FROM grams),
       |gl AS (SELECT doc_id, is_new, list(h) AS g FROM sh GROUP BY doc_id, is_new),
       |mins AS (
       |  SELECT doc_id, is_new,
       |         ${Dedup.portableMinsSql(nh)}
       |  FROM sh GROUP BY doc_id, is_new),
       |minsc AS (SELECT * FROM mins WHERE NOT is_new),
       |minsb AS (SELECT * FROM mins WHERE is_new),
       |bkc AS (
       |  ${Dedup.portableBandRowsSql("minsc", "doc_id", nh)}),
       |bkb AS (
       |  ${Dedup.portableBandRowsSql("minsb", "doc_id", nh)}),
       |keep AS (SELECT band, v FROM bkc GROUP BY band, v
       |         HAVING count(*) <= 100),
       |cands AS (
       |  SELECT DISTINCT b.doc_id AS new_id, c.doc_id AS corpus_id
       |  FROM bkb b
       |  JOIN bkc c ON b.band = c.band AND b.v = c.v
       |  JOIN keep k ON k.band = b.band AND k.v = b.v),
       |sized AS (
       |  SELECT ca.new_id, ca.corpus_id,
       |         len(nb.g)::INT AS n1, len(nc.g)::INT AS n2
       |  FROM cands ca
       |  JOIN gl nb ON nb.doc_id = ca.new_id AND nb.is_new
       |  JOIN gl nc ON nc.doc_id = ca.corpus_id AND NOT nc.is_new
       |  WHERE greatest(len(nb.g), len(nc.g))::DOUBLE / least(len(nb.g), len(nc.g))
       |        <= 8.0::DOUBLE),
       |agr AS (
       |  SELECT s.new_id, s.corpus_id, s.n1, s.n2,
       |         (${Dedup.portableAgreeSql(nh)})::INT AS agree
       |  FROM sized s JOIN minsb sa ON sa.doc_id = s.new_id
       |               JOIN minsc sb ON sb.doc_id = s.corpus_id),
       |flt AS (
       |  SELECT new_id, corpus_id, n1, n2,
       |         agree::DOUBLE / $nh AS jhat,
       |         (0.5::DOUBLE * least(n1, n2)::DOUBLE) /
       |           ((n1 + n2) - 0.5::DOUBLE * least(n1, n2)::DOUBLE) AS jstar
       |  FROM agr),
       |kept AS (
       |  SELECT new_id, corpus_id,
       |         floor(jhat * (n1 + n2) / ((1.0::DOUBLE + jhat) * least(n1, n2)::DOUBLE)
       |               * 10000 + 0.5) / 10000.0 AS c_est
       |  FROM flt
       |  WHERE jhat >= jstar - 2.5::DOUBLE * sqrt(jstar * (1.0::DOUBLE - jstar) / $nh)),
       |v AS (
       |  SELECT k2.new_id, k2.corpus_id,
       |         len(ga.g)::INT AS n_new, len(gb.g)::INT AS n_corpus,
       |         len(list_intersect(ga.g, gb.g))::INT AS shared, k2.c_est
       |  FROM kept k2
       |  JOIN gl ga ON ga.doc_id = k2.new_id AND ga.is_new
       |  JOIN gl gb ON gb.doc_id = k2.corpus_id AND NOT gb.is_new)
       |SELECT new_id, corpus_id, n_new, n_corpus, shared,
       |       floor(shared / n_new * 10000 + 0.5) / 10000.0 AS c_new,
       |       floor(shared / n_corpus * 10000 + 0.5) / 10000.0 AS c_corpus,
       |       c_est
       |FROM v
       |WHERE greatest(shared / n_new, shared / n_corpus) >= 0.5
       |ORDER BY new_id, corpus_id""".stripMargin
  }

  private def portableComponents(s: SparkSession, d: String): DataFrame =
    QueryMemo.frame(s, d, "dd6_components") {
      val docs = t(s, d, "documents").filter(col("doc_id") % 5 === 0)
      val edges = Dedup.minhashCandidatesPortable(docs, "doc_id", "text")
      Dedup.labelComponents(docs.select(col("doc_id")), "doc_id", edges)
    }

  /** DuckDB replay of the ENTIRE e2e_llm_pipeline chain: each CTE is the
    * corresponding single-stage oracle (ts16 / dd2 / dd3c+dd6b / dd7 /
    * ts3 / cur3 / cur7) re-rooted at the previous stage's CTE, so one
    * hash checks the whole composition. */
  /** Gopher-rule quality CTE block (ts16's thresholds), rooted at `src`
    * (must expose doc_id, source, text): emits CTEs `gw`, `gf`,
    * `quality(doc_id, source, text)`. ONE copy shared by the composed
    * e2e_llm_pipeline oracle and the st12 ingest-gate oracle so the rule
    * battery can never drift between the batch and streaming
    * compositions. */
  private[queries] def gopherQualityCtesSql(src: String): String =
    s"""gw AS (
       |  SELECT doc_id, source, text,
       |         list_filter(regexp_split_to_array(trim(text), '[ \\t\\n\\r\\f]+'),
       |                     x -> length(x) > 0) AS words,
       |         string_split(text, chr(10)) AS lines
       |  FROM $src),
       |gf AS (
       |  SELECT doc_id, source, text,
       |    len(words)::INT AS n_words,
       |    round(list_sum(list_transform(words, x -> length(x)))::DOUBLE
       |          / len(words), 6) AS mean_wl,
       |    round(len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE
       |          / len(words), 6) AS alpha_frac,
       |    len(list_distinct(list_filter(list_transform(words, x -> lower(x)),
       |        x -> x IN ('the','be','to','of','and','a','in','that'))))::INT
       |      AS stop_hits,
       |    round(((length(text) - length(replace(text, '#', '')))
       |     + (length(text) - length(replace(text, '...', ''))) / 3)
       |      / len(words), 6) AS symbol_ratio,
       |    round(len(list_filter(lines, x -> regexp_matches(ltrim(x), '^[-*•]')))::DOUBLE
       |      / len(lines), 6) AS bullet_frac,
       |    round(len(list_filter(lines, x -> ends_with(rtrim(x), '...')))::DOUBLE
       |      / len(lines), 6) AS ell_frac
       |  FROM gw),
       |quality AS (
       |  SELECT doc_id, source, text FROM gf
       |  WHERE n_words BETWEEN 50 AND 100000 AND mean_wl BETWEEN 3.0 AND 10.0
       |    AND symbol_ratio <= 0.1 AND bullet_frac <= 0.9 AND ell_frac <= 0.3
       |    AND alpha_frac >= 0.8 AND stop_hits >= 2)""".stripMargin

  private def llmPipelineOracleSql: String = {
    val minExprs = Dedup.portableMinsSql(32)
    val bandJoins = (0 until 8).map { b =>
      val eqs = (0 until 4).map(r => s"a.m${b * 4 + r} = b.m${b * 4 + r}")
        .mkString(" AND ")
      s"""SELECT a.doc_id AS id1, b.doc_id AS id2 FROM smins a JOIN smins b
         |    ON $eqs AND a.doc_id < b.doc_id""".stripMargin
    }.mkString("\n  UNION\n  ")
    val agreeSum = Dedup.portableAgreeSql(32)
    s"""WITH RECURSIVE
       |train AS (SELECT doc_id, source, text FROM documents WHERE doc_id % 17 <> 0),
       |benchd AS (SELECT text FROM documents WHERE doc_id % 17 = 0),
       |${gopherQualityCtesSql("train")},
       |exact2 AS (
       |  SELECT * FROM quality
       |  WHERE doc_id IN (SELECT min(doc_id) FROM quality GROUP BY md5(text))),
       |vgrams AS (
       |  ${Dedup.wordGramsOracleSql("exact2", 3, "g")}),
       |vsh AS (
       |  SELECT doc_id, ('0x' || substr(md5(unnest(g)), 1, 7))::BIGINT AS h
       |  FROM vgrams),
       |smins AS (
       |  SELECT doc_id,
       |         $minExprs
       |  FROM vsh GROUP BY doc_id),
       |cands AS (
       |  $bandJoins),
       |edges AS (
       |  SELECT c.id1, c.id2
       |  FROM cands c
       |  JOIN smins sa ON sa.doc_id = c.id1
       |  JOIN smins sb ON sb.doc_id = c.id2
       |  JOIN vgrams a ON a.doc_id = c.id1
       |  JOIN vgrams b ON b.doc_id = c.id2
       |  WHERE ($agreeSum) >= 20
       |    AND len(list_intersect(a.g, b.g))
       |          / len(list_distinct(list_concat(a.g, b.g))) >= 0.8),
       |sym AS (SELECT id1 AS u, id2 AS v FROM edges
       |        UNION SELECT id2, id1 FROM edges),
       |reach AS (
       |  SELECT u, v FROM sym
       |  UNION
       |  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u WHERE s.v <> r.u),
       |comp AS (SELECT u AS doc_id, least(u, min(v)) AS component
       |         FROM reach GROUP BY u),
       |nearsurv AS (
       |  SELECT e.* FROM exact2 e LEFT JOIN comp c USING (doc_id)
       |  WHERE coalesce(c.component, e.doc_id) = e.doc_id),
       |bgrams AS (
       |  SELECT DISTINCT unnest(g) AS gram
       |  FROM (SELECT [array_to_string(t[i:i+7], ' ')
       |                FOR i IN generate_series(1, greatest(len(t) - 7, 1))] AS g
       |        FROM (SELECT string_split_regex(lower(text), '\\s+') AS t FROM benchd))),
       |tgrams AS (
       |  SELECT doc_id, unnest(g) AS gram
       |  FROM (SELECT doc_id, [array_to_string(t[i:i+7], ' ')
       |                FOR i IN generate_series(1, greatest(len(t) - 7, 1))] AS g
       |        FROM (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS t
       |              FROM nearsurv))),
       |dirty AS (SELECT DISTINCT doc_id FROM tgrams JOIN bgrams USING (gram)),
       |clean AS (SELECT * FROM nearsurv
       |          WHERE doc_id NOT IN (SELECT doc_id FROM dirty)),
       |toks AS (
       |  SELECT doc_id, source,
       |         len(regexp_extract_all(text, '\\w+|[^\\w\\s]'))::INT AS n_tokens
       |  FROM clean),
       |packed AS (
       |  SELECT doc_id, source, n_tokens,
       |         sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)::BIGINT
       |           AS cum_tokens
       |  FROM toks)
       |SELECT doc_id, source,
       |       CASE WHEN f < 0.1 THEN 'test'
       |            WHEN f < 0.2 THEN 'val'
       |            ELSE 'train' END AS split,
       |       n_tokens, cum_tokens,
       |       ((cum_tokens - n_tokens) // 256)::BIGINT AS pack_id
       |FROM (SELECT *,
       |        ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
       |          / 4294967296.0 AS f
       |      FROM packed)
       |ORDER BY doc_id""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- exact dedup: content-hash groups ----
    QueryDef("dd1_exact_dedup",
      (s, d) => Dedup.exact(t(s, d, "documents"), "doc_id", "text").orderBy("h"),
      Some("""SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS cnt
             |FROM documents GROUP BY md5(text) ORDER BY h""".stripMargin)),

    // ---- exact dedup survivors (first id wins) ----
    QueryDef("dd2_exact_survivors",
      (s, d) => Dedup.exactSurvivors(t(s, d, "documents"), "doc_id", "text")
        .select("doc_id").orderBy("doc_id"),
      Some("""SELECT doc_id FROM documents
             |WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY md5(text))
             |ORDER BY doc_id""".stripMargin)),

    // ---- MinHash-LSH near-dup pairs + Jaccard verify (rows-only: banded
    // xxhash64 signatures; recall asserted in LlmSpec) ----
    QueryDef("dd3_minhash_neardup",
      (s, d) => Dedup.minhashDedup(t(s, d, "documents"), "doc_id", "text",
          k = 5, bands = 8, rows = 4, threshold = 0.5)
        .withColumn("jaccard", round(col("jaccard"), 4))
        .orderBy("id1", "id2"),
      None),

    // ---- SimHash near-dup candidates (rows-only: xxhash64 fingerprint) ----
    QueryDef("dd4_simhash_neardup",
      (s, d) => Dedup.simhashCandidates(t(s, d, "documents"), "doc_id", "text", maxDist = 10)
        .orderBy("id1", "id2"),
      None),

    // ---- portable MinHash signatures — bit-exact oracle via md5-derived
    // shingle hashes ----
    QueryDef("dd3b_minhash_portable",
      (s, d) => Dedup.minhashPortable(t(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      Some(Dedup.minhashPortableOracleSql("documents", "doc_id", "text"))),

    // ---- portable banded-LSH candidate pairs — the pairing machinery
    // itself oracle-checked ----
    QueryDef("dd3c_minhash_candidates_portable",
      (s, d) => Dedup.minhashCandidatesPortable(t(s, d, "documents"), "doc_id", "text")
        .orderBy("id1", "id2"),
      Some(Dedup.minhashCandidatesPortableOracleSql("documents", "doc_id", "text"))),

    // ---- portable MinHash on a MULTI-BYTE corpus: vowels are remapped to
    // accented codepoints on both engines, so every shingle window crosses
    // 2-byte UTF-8 sequences. Pins the CHARACTER-shingling contract
    // (Dedup.scala documents the byte-vs-char divergence of the fast
    // kernel; the portable kernel windows via UTF8String.substringSQL and
    // must agree with DuckDB's char-based substr on non-ASCII text). ----
    QueryDef("dd3d_minhash_utf8",
      (s, d) => Dedup.minhashPortable(
          t(s, d, "documents").filter(col("doc_id") % 7 === 0)
            .select(col("doc_id"),
              translate(lower(col("text")),
                "aeiou", "áéíöü").as("text")),
          "doc_id", "text")
        .orderBy("doc_id"),
      Some(Dedup.minhashPortableOracleSql(
        "(SELECT doc_id, translate(lower(text), 'aeiou', " +
          "'áéíöü') AS text " +
          "FROM documents WHERE doc_id % 7 = 0) utf8docs",
        "doc_id", "text"))),

    // ---- output-bounded candidate listing (VERDICT r14 item 1): dd3c's
    // banded-LSH candidates summarized per doc — total partner count + a
    // DETERMINISTIC k-sample (k smallest md5(doc:partner), the seedless
    // reservoir both engines replay). One row per (doc, rank): the output
    // and its sort are <= k·n no matter how quadratic the pair set, and
    // the bound is a bounded-heap aggregate (partial+final
    // ObjectHashAggregate), never a limit on the materialized pairs —
    // the form a 100 TB caller runs instead of dd3c. ----
    QueryDef("dd3e_minhash_candidates_sampled",
      (s, d) => {
        val cands = Dedup.minhashCandidatesPortable(t(s, d, "documents"), "doc_id", "text")
        Dedup.pairTopKPerDoc(cands, "id1", "id2",
            ord = graft.functions.Md5Prefix(
              concat_ws(":", col("doc"), col("partner")), 13).cast("double"),
            k = 5)
          .select(col("doc").as("doc_id"), col("n_candidates"),
            col("rank"), col("partner"))
          .orderBy("doc_id", "rank")
      },
      Some(Dedup.pairTopKPerDocOracleSql(
        Dedup.minhashCandidatesPortableOracleSql("documents", "doc_id", "text"),
        docAlias = "doc_id",
        orderSql =
          "('0x' || substr(md5(doc::VARCHAR || ':' || partner::VARCHAR), 1, 13))::BIGINT",
        k = 5))),

    // ---- corpus-level overlap matrix: exact shingle-set Jaccard per
    // source pair AND its 32-hash MinHash-sketch estimate side by side —
    // the sketch (the 100 TB path: each corpus reduces to 32 longs) is
    // hash-checked against its own ground truth, both via the portable
    // md5-28 shingle family ----
    QueryDef("dd15_corpus_overlap",
      (s, d) => Dedup.corpusOverlap(t(s, d, "documents"), "source", "text")
        .orderBy("source1", "source2"),
      Some(Dedup.corpusOverlapOracleSql("documents", "source", "text"))),

    // ---- content-defined-chunk dedup ledger: CDC boundaries (md5-28
    // window hash, mask 1/32, w=16) re-sync after edits, so near-identical
    // docs share chunks; one row per duplicated chunk with the chars a
    // chunk-store would save — the storage-level dedup tier, linear scan,
    // no pair join; boundary rule AND chunk ids both replay in DuckDB ----
    QueryDef("dd16_cdc_chunk_dedup",
      (s, d) => Dedup.cdcChunkDedup(t(s, d, "documents"), "text").orderBy("h"),
      Some(Dedup.cdcChunkOracleSql("documents", "text"))),

    // ---- incremental CDC dedup: a new batch (doc_id % 3 = 1) scored for
    // chunk-level novelty against the corpus chunk store — dd9/dd11's
    // steady-state shape at the storage level; near-zero novelty docs are
    // crawl re-fetches a chunk-store ingest would drop ----
    QueryDef("dd18_cdc_incremental",
      (s, d) => Dedup.cdcIncremental(t(s, d, "documents"), "doc_id", "text",
          isNew = col("doc_id") % 3 === 1)
        .orderBy("doc_id"),
      Some(Dedup.cdcIncrementalOracleSql("documents", "doc_id", "text",
        newPred = "doc_id % 3 = 1"))),

    // ---- portable SimHash fingerprints — bit-exact oracle via md5-derived
    // token hashes ----
    QueryDef("dd4b_simhash_portable",
      (s, d) => Dedup.simhashPortable(t(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      Some(Dedup.simhashPortableOracleSql("documents", "doc_id", "text"))),

    // ---- output-bounded SimHash evidence (VERDICT r14 item 1): the
    // portable fingerprint's pigeonhole candidates summarized per doc —
    // partner count + top-5 partners by (Hamming distance, partner).
    // dd4's unbounded listing is quadratic BY CONTRACT (71.5 M rows at
    // gen-1x, bench tail = sorting the answer); this is the linear-output
    // form, bounded by a per-partition heap BEFORE any sort, and — unlike
    // dd4 — hash-green end-to-end via the md5 fingerprint family.
    // maxDist = 3, NOT dd4's heuristic 10: with 4 chunks the pigeonhole
    // makes recall EXACT at ≤ 3 (every such pair shares a chunk), and in
    // a heavy-tail vocabulary dist 10 is corpus-generic closeness, not
    // duplication — dd4d measures that saturation (4.6% of ALL pairs
    // within dist 10 at zipf-1×; within dist 3 only the real copy
    // clusters survive, and runtime scales ~linearly: 5.6× on 10×
    // data while the cluster-driven pair mass itself grows 102×). ----
    QueryDef("dd4c_simhash_topk_per_doc",
      (s, d) => {
        val cands = Dedup.simhashCandidatesPortable(t(s, d, "documents"),
          "doc_id", "text", maxDist = 3)
        Dedup.pairTopKPerDoc(cands, "id1", "id2",
            ord = col("dist").cast("double"), k = 5)
          .select(col("doc").as("doc_id"), col("n_candidates"), col("rank"),
            col("partner"), col("ord").cast("int").as("dist"))
          .orderBy("doc_id", "rank")
      },
      Some(Dedup.pairTopKPerDocOracleSql(
        Dedup.simhashCandidatesPortableOracleSql("documents", "doc_id", "text",
          maxDist = 3),
        docAlias = "doc_id", orderSql = "dist", k = 5,
        extraCols = Seq("dist"), extraSelect = ", dist::INT AS dist"))),

    // ---- SimHash banding health probe (the dd23 posture for the Hamming
    // tier): exact raw-pair count the chunk join would enumerate, from
    // one bucket-occupancy aggregate — the question a 100 TB caller asks
    // BEFORE running dd4/dd4c. Heavy-tail vocabularies saturate the
    // fingerprint space (dominant words drive every doc's sign bits the
    // same way: measured 4.6% of ALL pairs within Hamming 10 at zipf-1×)
    // and this row says so without materializing a pair. ----
    QueryDef("dd4d_simhash_diagnostics",
      (s, d) => Dedup.simhashDiagnostics(t(s, d, "documents"), "doc_id", "text",
        pairBudgetPerDoc = 100.0),
      Some(Dedup.simhashDiagnosticsOracleSql("documents", "doc_id", "text",
        pairBudgetPerDoc = 100.0))),

    // ---- word-3-gram Jaccard verify over LSH candidates, thresholded at
    // 0.5 (rows-only: xxhash64 grams). The sketch prefilter discards the
    // banding false positives (77,912 of 78,175 sf0.1 candidates carry
    // jaccard ~0) before the gram-array join — prefiltered ≡
    // unfiltered-then-thresholded is pinned in LlmSpec on the real
    // candidate set ----
    QueryDef("dd5_ngram_jaccard",
      (s, d) => {
        val docs = t(s, d, "documents")
        val pairs = Dedup.minhashCandidates(docs, "doc_id", "text", k = 5, bands = 8, rows = 4)
        Dedup.ngramJaccard(docs, "doc_id", "text", 3, pairs, minJaccard = 0.5)
          .withColumn("jaccard", round(col("jaccard"), 4))
          .orderBy("id1", "id2")
      },
      None),

    // ---- portable n-gram Jaccard: portable candidate pairs + raw string
    // grams, so the verify stage's set algebra is itself hash-checked
    // (dd5 keeps xxhash64 grams as the fast path). PROOF query: runs on a
    // deterministic 1-in-5 corpus slice — string-set ops over the full
    // candidate volume would dominate the bench while proving nothing
    // extra (dd3c already proves full-corpus pairing). ----
    QueryDef("dd5b_ngram_jaccard_portable",
      (s, d) => {
        val docs = t(s, d, "documents").filter(col("doc_id") % 5 === 0)
        val pairs = Dedup.minhashCandidatesPortable(docs, "doc_id", "text")
        Dedup.ngramJaccard(docs, "doc_id", "text", 3, pairs, hashGrams = false)
          .withColumn("jaccard", round(col("jaccard"), 4))
          .orderBy("id1", "id2")
      },
      Some {
        val cands = Dedup.minhashCandidatesPortableOracleSql("docs5", "doc_id", "text")
        s"""WITH docs5 AS (SELECT * FROM documents WHERE doc_id % 5 = 0),
           |cands AS ($cands),
           |grams AS (
           |  ${Dedup.wordGramsOracleSql("docs5", 3, "g")})
           |SELECT c.id1, c.id2,
           |       round(len(list_intersect(a.g, b.g)) /
           |             len(list_distinct(list_concat(a.g, b.g))), 4) AS jaccard
           |FROM cands c
           |JOIN grams a ON a.doc_id = c.id1
           |JOIN grams b ON b.doc_id = c.id2
           |ORDER BY id1, id2""".stripMargin
      }),

    // ---- directional containment near-dups (Broder containment / the
    // LSH-Ensemble use case): catches the page-in-a-5×-wrapper superset
    // copies jaccard structurally misses. Candidate generation rides a
    // df-capped inverted gram index (constant state per gram — the dd8
    // posture; boilerplate grams with df>20 excluded, documented recall
    // guard), exact |A∩B|/|A| verify on full string-gram sets; every
    // stage replays in DuckDB. PROOF query on the doc_id < 1000 PREFIX,
    // not the 1-in-5 modulo slice: containment partners are uniformly
    // random in id, so a modulo slice keeps only 1/25 of pairs (ZERO at
    // sf0.01 — a hollow query), while the prefix IS the full corpus at
    // the correctness scales (≤500 docs → the 25 real pairs) and caps
    // the bench scale's string-set cost (full 5000-doc corpus measured
    // 13 s while proving nothing extra; the operator is corpus-generic
    // and the hashed production path covers scale). ----
    QueryDef("dd19_containment",
      (s, d) => Dedup.containmentPairs(
          t(s, d, "documents").filter(col("doc_id") < 1000),
          "doc_id", "text", n = 3, minContainment = 0.5, maxDf = 20,
          hashGrams = false)
        .orderBy("id1", "id2"),
      Some(s"""WITH docs_prefix AS (SELECT * FROM documents WHERE doc_id < 1000),
             |grams AS (
             |  ${Dedup.wordGramsOracleSql("docs_prefix", 3, "g")}),
             |inv AS (SELECT doc_id, unnest(g) AS gram FROM grams),
             |pairable AS (
             |  SELECT gram FROM inv GROUP BY gram HAVING count(*) BETWEEN 2 AND 20),
             |cold AS (SELECT i.doc_id, i.gram FROM inv i JOIN pairable USING (gram)),
             |cands AS (
             |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
             |  FROM cold a JOIN cold b ON a.gram = b.gram AND a.doc_id < b.doc_id),
             |v AS (
             |  SELECT c.id1, c.id2,
             |         len(ga.g)::INT AS n1, len(gb.g)::INT AS n2,
             |         len(list_intersect(ga.g, gb.g))::INT AS shared
             |  FROM cands c
             |  JOIN grams ga ON ga.doc_id = c.id1
             |  JOIN grams gb ON gb.doc_id = c.id2)
             |SELECT id1, id2, n1, n2, shared,
             |       floor(shared / n1 * 10000 + 0.5) / 10000.0 AS c1,
             |       floor(shared / n2 * 10000 + 0.5) / 10000.0 AS c2
             |FROM v
             |WHERE greatest(shared / n1, shared / n2) >= 0.5
             |ORDER BY id1, id2""".stripMargin)),

    // ---- incremental containment (the dd9/dd11/dd18 steady-state shape
    // for dd19): each NEW doc probed against the EXISTING corpus's
    // df-capped gram index — the "is this fetch a wrapped/trimmed copy
    // of something we already hold" ingest gate. Same doc_id < 1000
    // proof prefix + string grams for the oracle (see dd19's comment);
    // the operator defaults to the hashed production path ----
    QueryDef("dd20_incremental_containment",
      (s, d) => Dedup.containmentIncremental(
          t(s, d, "documents").filter(col("doc_id") < 1000),
          "doc_id", "text", col("doc_id") % 3 === 1,
          n = 3, minContainment = 0.5, maxDf = 20, hashGrams = false)
        .orderBy("new_id", "corpus_id"),
      Some(s"""WITH docs_prefix AS (
             |  SELECT doc_id, (doc_id % 3 = 1) AS is_new, text
             |  FROM documents WHERE doc_id < 1000),
             |grams AS (
             |  ${Dedup.wordGramsOracleSql("docs_prefix", 3, "g", Seq("doc_id", "is_new"))}),
             |invc AS (SELECT doc_id AS corpus_id, unnest(g) AS gram
             |         FROM grams WHERE NOT is_new),
             |pairable AS (SELECT gram FROM invc GROUP BY gram HAVING count(*) <= 20),
             |invb AS (SELECT doc_id AS new_id, unnest(g) AS gram
             |         FROM grams WHERE is_new),
             |cands AS (
             |  SELECT DISTINCT b.new_id, c.corpus_id
             |  FROM invb b JOIN invc c USING (gram) JOIN pairable USING (gram)),
             |v AS (
             |  SELECT ca.new_id, ca.corpus_id,
             |         len(gn.g)::INT AS n_new, len(gc.g)::INT AS n_corpus,
             |         len(list_intersect(gn.g, gc.g))::INT AS shared
             |  FROM cands ca
             |  JOIN grams gn ON gn.doc_id = ca.new_id
             |  JOIN grams gc ON gc.doc_id = ca.corpus_id)
             |SELECT new_id, corpus_id, n_new, n_corpus, shared,
             |       floor(shared / n_new * 10000 + 0.5) / 10000.0 AS c_new,
             |       floor(shared / n_corpus * 10000 + 0.5) / 10000.0 AS c_corpus
             |FROM v
             |WHERE greatest(shared / n_new, shared / n_corpus) >= 0.5
             |ORDER BY new_id, corpus_id""".stripMargin)),

    // ---- the PRODUCTION containment paths, benched at full scale: the
    // dd19/dd20 registry forms above run string grams on the doc_id<1000
    // prefix (the oracle-replay form; the prefix is the whole corpus at
    // the correctness scales but 1/10th of it at bench scale), so their
    // bench rows under-state what the shipped hashGrams=true default
    // costs over the FULL corpus. These twins run exactly that — 64-bit
    // gram hashes, no prefix — so bench_full.json carries the number a
    // real user pays. Rows-only by construction (xxhash64 grams have no
    // DuckDB replay); semantics are covered by the string twins plus
    // LlmSpec's hashed≡string pin. ----
    QueryDef("dd19b_containment_hashed",
      (s, d) => Dedup.containmentPairs(
          t(s, d, "documents"),
          "doc_id", "text", n = 3, minContainment = 0.5, maxDf = 20)
        .orderBy("id1", "id2"),
      None),
    QueryDef("dd20b_incremental_containment_hashed",
      (s, d) => Dedup.containmentIncremental(
          t(s, d, "documents"),
          "doc_id", "text", col("doc_id") % 3 === 1,
          n = 3, minContainment = 0.5, maxDf = 20)
        .orderBy("new_id", "corpus_id"),
      None),

    // ---- containment index HEALTH probe (r14): the capacity-planning
    // diagnostic behind the saturation warning — gram universe,
    // pairable/above-cap split, candidate volume before and after the
    // exact upper-bound prune, verified pairs. Run on a corpus SAMPLE
    // before committing a 100 TB pass to the exact tier (the
    // BENCH_sf1_zipf regime probes are exactly this query). Same
    // doc_id < 1000 string-gram proof prefix as dd19, so the whole
    // funnel replays in DuckDB. ----
    QueryDef("dd23_containment_diagnostics",
      (s, d) => Dedup.containmentDiagnostics(
          t(s, d, "documents").filter(col("doc_id") < 1000),
          "doc_id", "text", n = 3, minContainment = 0.5, maxDf = 20,
          hashGrams = false),
      Some(s"""WITH docs_prefix AS (SELECT * FROM documents WHERE doc_id < 1000),
             |grams AS (
             |  ${Dedup.wordGramsOracleSql("docs_prefix", 3, "g")}),
             |inv AS (SELECT doc_id, unnest(g) AS gram FROM grams),
             |df AS (SELECT gram, count(*) AS df FROM inv GROUP BY gram),
             |stats AS (
             |  SELECT count(*)::BIGINT AS grams_total,
             |         coalesce(sum((df BETWEEN 2 AND 20)::INT), 0)::BIGINT AS grams_pairable,
             |         coalesce(sum((df > 20)::INT), 0)::BIGINT AS grams_above_cap,
             |         coalesce(max(df), 0)::BIGINT AS max_df
             |  FROM df),
             |cold AS (SELECT i.doc_id, i.gram FROM inv i
             |         JOIN (SELECT gram FROM df WHERE df BETWEEN 2 AND 20) p USING (gram)),
             |candc AS (
             |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS c
             |  FROM cold a JOIN cold b ON a.gram = b.gram AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2),
             |acap AS (SELECT doc_id, count(*) AS a FROM inv
             |         JOIN (SELECT gram FROM df WHERE df > 20) q USING (gram)
             |         GROUP BY 1),
             |nsz AS (SELECT doc_id, len(g) AS n FROM grams),
             |pruned AS (
             |  SELECT c.id1, c.id2
             |  FROM candc c
             |  JOIN nsz n1 ON n1.doc_id = c.id1
             |  JOIN nsz n2 ON n2.doc_id = c.id2
             |  LEFT JOIN acap a1 ON a1.doc_id = c.id1
             |  LEFT JOIN acap a2 ON a2.doc_id = c.id2
             |  WHERE (c.c + least(coalesce(a1.a, 0), coalesce(a2.a, 0)))
             |          / least(n1.n, n2.n) >= 0.5),
             |verified AS (
             |  SELECT count(*)::BIGINT AS v FROM (
             |    SELECT c.id1
             |    FROM candc c
             |    JOIN grams ga ON ga.doc_id = c.id1
             |    JOIN grams gb ON gb.doc_id = c.id2
             |    WHERE greatest(len(list_intersect(ga.g, gb.g)) / len(ga.g),
             |                   len(list_intersect(ga.g, gb.g)) / len(gb.g)) >= 0.5))
             |SELECT s.grams_total, s.grams_pairable, s.grams_above_cap, s.max_df,
             |       (s.grams_total > 0 AND s.grams_pairable = 0
             |          AND s.grams_above_cap > 0) AS saturated,
             |       (SELECT count(*) FROM candc)::BIGINT AS candidate_pairs,
             |       (SELECT count(*) FROM pruned)::BIGINT AS pruned_candidate_pairs,
             |       (SELECT v FROM verified) AS verified_pairs
             |FROM stats s""".stripMargin)),

    // ---- containment ESTIMATE tier (LSH-Ensemble, Zhu et al. VLDB'16):
    // MinHash-sketch candidates over the doc's FULL word-gram set (the
    // SAME gram definition as dd19), so pairs sharing only above-cap
    // boilerplate grams — invisible to dd19's df-capped index by
    // design — are still discoverable. Exact sizes collapse the paper's
    // per-partition Jaccard thresholds to a per-pair J* sketch filter;
    // the sketch's own containment estimate (c_est) ships next to the
    // exact verify so the estimator is hash-audited against its ground
    // truth. Every stage (md5-28 gram hashes, LCG minhash family, r=1
    // banding with the hot-bucket cap, J* filter, exact intersect)
    // replays in DuckDB. ----
    QueryDef("dd21_containment_estimate",
      (s, d) => Dedup.containmentEstimatePairs(
          t(s, d, "documents"), "doc_id", "text",
          n = 3, numHashes = 32, minContainment = 0.5,
          maxSizeRatio = 8.0, maxBucket = 100)
        .orderBy("id1", "id2"),
      Some(containmentEstimateOracle)),

    // ---- incremental containment estimate (dd21 in dd20's ingest
    // shape): batch signatures probe the persisted capped corpus bucket
    // index, so a wrapped/trimmed re-fetch is flagged even when every
    // shared gram is above dd20's df cap; in-batch pairing is dd21's
    // job. Split-side verify (new text vs held text), c_est audited
    // against exact — whole chain DuckDB-replayed. ----
    QueryDef("dd22_incremental_containment_estimate",
      (s, d) => Dedup.containmentEstimateIncremental(
          t(s, d, "documents"), "doc_id", "text",
          col("doc_id") % 3 === 1,
          n = 3, numHashes = 32, minContainment = 0.5,
          maxSizeRatio = 8.0, maxBucket = 100)
        .orderBy("new_id", "corpus_id"),
      Some(containmentEstimateIncrementalOracle)),

    // ---- near-dup CONNECTED COMPONENTS (Dedup.connectedComponents): pairwise
    // near-dup under-deletes transitive groups (A~B, B~C, A!~C); clusters
    // are what a dedup pass actually keys on. Edges are the PORTABLE
    // banded-LSH candidate pairs on the 1-in-5 proof slice, so the whole
    // clustering is oracle-green against a DuckDB recursive-CTE transitive
    // closure. The fast path (xxhash64 edges, full corpus) is dd6c. ----
    QueryDef("dd6_neardup_components",
      (s, d) => portableComponents(s, d).orderBy("doc_id"),
      Some {
        val cands = Dedup.minhashCandidatesPortableOracleSql("docs5", "doc_id", "text")
        s"""WITH RECURSIVE docs5 AS (SELECT * FROM documents WHERE doc_id % 5 = 0),
           |cands AS ($cands),
           |sym AS (SELECT id1 AS u, id2 AS v FROM cands
           |        UNION SELECT id2, id1 FROM cands),
           |reach AS (
           |  SELECT u, v FROM sym
           |  UNION
           |  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u WHERE s.v <> r.u),
           |comp AS (SELECT u AS doc_id, least(u, min(v)) AS component
           |         FROM reach GROUP BY u)
           |SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
           |FROM docs5 d LEFT JOIN comp c USING (doc_id)
           |ORDER BY doc_id""".stripMargin
      }),

    // ---- one survivor per near-dup cluster: the component minimum ----
    QueryDef("dd6b_cluster_survivors",
      (s, d) => portableComponents(s, d)
        .where(col("doc_id") === col("component"))
        .select("doc_id")
        .orderBy("doc_id"),
      Some {
        val cands = Dedup.minhashCandidatesPortableOracleSql("docs5", "doc_id", "text")
        s"""WITH RECURSIVE docs5 AS (SELECT * FROM documents WHERE doc_id % 5 = 0),
           |cands AS ($cands),
           |sym AS (SELECT id1 AS u, id2 AS v FROM cands
           |        UNION SELECT id2, id1 FROM cands),
           |reach AS (
           |  SELECT u, v FROM sym
           |  UNION
           |  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u WHERE s.v <> r.u),
           |comp AS (SELECT u AS doc_id, least(u, min(v)) AS component
           |         FROM reach GROUP BY u)
           |SELECT d.doc_id
           |FROM docs5 d LEFT JOIN comp c USING (doc_id)
           |WHERE coalesce(c.component, d.doc_id) = d.doc_id
           |ORDER BY doc_id""".stripMargin
      }),

    // ---- quality-aware survivor selection: per near-dup cluster keep
    // the HIGHEST-quality member (ties by lowest id) instead of the id
    // minimum — the policy real curation uses (drop the worse copy, not
    // the newer one); rides the memoized dd6 component labeling + the
    // ts2 quality score, argmax via one struct-max aggregate (no
    // per-cluster window) ----
    QueryDef("dd17_quality_survivors",
      (s, d) => {
        val docs5 = t(s, d, "documents").filter(col("doc_id") % 5 === 0)
        val q = TextAnalysis.qualityFeatures(docs5, "text")
          .select(col("doc_id"), col("quality_score"))
        portableComponents(s, d).join(q, "doc_id")
          .groupBy("component")
          .agg(max(struct(col("quality_score"), (-col("doc_id")).as("nid"))).as("m"))
          .select(col("component"), (-col("m.nid")).as("survivor"),
            col("m.quality_score").as("quality"))
          .orderBy("component")
      },
      Some {
        val cands = Dedup.minhashCandidatesPortableOracleSql("docs5", "doc_id", "text")
        s"""WITH RECURSIVE docs5 AS (SELECT * FROM documents WHERE doc_id % 5 = 0),
           |cands AS ($cands),
           |sym AS (SELECT id1 AS u, id2 AS v FROM cands
           |        UNION SELECT id2, id1 FROM cands),
           |reach AS (
           |  SELECT u, v FROM sym
           |  UNION
           |  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u WHERE s.v <> r.u),
           |comp AS (SELECT u AS doc_id, least(u, min(v)) AS component
           |         FROM reach GROUP BY u),
           |labeled AS (
           |  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
           |  FROM docs5 d LEFT JOIN comp c USING (doc_id)),
           |q AS (
           |  SELECT doc_id, round(greatest(0.0, least(1.0,
           |    1.0 - abs(length(regexp_replace(text, '[ \\t\\n\\r\\f]', '', 'g'))
           |              / (len(regexp_extract_all(text, '[^ \\t\\n\\r\\f]+')) * 1.0) - 5.0) / 10.0
           |        - (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))) / (length(text) * 1.0)
           |        - (length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) / (length(text) * 1.0))), 6) AS quality_score
           |  FROM docs5),
           |ranked AS (
           |  SELECT l.component, l.doc_id, q.quality_score,
           |         row_number() OVER (PARTITION BY l.component
           |           ORDER BY q.quality_score DESC, l.doc_id) AS rk
           |  FROM labeled l JOIN q USING (doc_id))
           |SELECT component, doc_id AS survivor, quality_score AS quality
           |FROM ranked WHERE rk = 1 ORDER BY component""".stripMargin
      }),

    // ---- fast-path clustering: verified xxhash64 near-dup pairs over the
    // FULL corpus (rows-only like dd3; component algebra proven by dd6) ----
    QueryDef("dd6c_components_fast",
      (s, d) => Dedup.neardupComponents(t(s, d, "documents"), "doc_id", "text",
          k = 5, bands = 8, rows = 4, threshold = 0.5)
        .orderBy("doc_id"),
      None),

    // ---- language ID: simple deterministic heuristic (oracle-checked);
    // the stopword-scored variant is ts1b below ----
    QueryDef("ts1_lang_id",
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"),
          when(col("text").contains(" the "), "en")
            .when(col("text").contains(" der ") || col("text").contains(" und "), "de")
            .when(col("text").contains(" le ") || col("text").contains(" et "), "fr")
            .when(col("text").contains(" el ") || col("text").contains(" por "), "es")
            .otherwise("unknown").as("lang_pred"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  CASE WHEN contains(text, ' the ') THEN 'en'
             |       WHEN contains(text, ' der ') OR contains(text, ' und ') THEN 'de'
             |       WHEN contains(text, ' le ') OR contains(text, ' et ') THEN 'fr'
             |       WHEN contains(text, ' el ') OR contains(text, ' por ') THEN 'es'
             |       ELSE 'unknown' END AS lang_pred
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- language ID: stopword-scored argmax. Oracle generated from the
    // SAME stopword table (distinct-intersection counts, argmax with
    // tie-or-zero → unknown — DuckDB list_intersect dedups exactly like
    // Spark array_intersect) ----
    QueryDef("ts1b_lang_scored",
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id"),
      Some {
        val langs = TextAnalysis.stopwords.toSeq.sortBy(_._1)
        val scoreCols = langs.map { case (l, ws) =>
          s"len(list_intersect(tk, [${ws.map(w => s"'$w'").mkString(", ")}])) AS s_$l"
        }.mkString(",\n  ")
        val names = langs.map { case (l, _) => s"s_$l" }
        val pick = langs.map { case (l, _) => s"WHEN s_$l = b THEN '$l'" }.mkString(" ")
        s"""WITH toks AS (
           |  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS tk FROM documents),
           |sc AS (SELECT doc_id,
           |  $scoreCols
           |  FROM toks),
           |best AS (
           |  SELECT doc_id, ${names.mkString(", ")},
           |         greatest(${names.mkString(", ")}) AS b
           |  FROM sc)
           |SELECT doc_id,
           |  CASE WHEN b > 0 AND (${names.map(n => s"($n = b)::INT").mkString(" + ")}) = 1
           |       THEN CASE $pick END
           |       ELSE 'unknown' END AS lang_pred
           |FROM best ORDER BY doc_id""".stripMargin
      }),

    // ---- quality scoring features ----
    QueryDef("ts2_quality_score",
      (s, d) => TextAnalysis.qualityFeatures(t(s, d, "documents"), "text")
        .select(col("doc_id"), col("n_words"),
          round(col("mean_word_len"), 6).as("mean_word_len"),
          round(col("punct_ratio"), 6).as("punct_ratio"),
          col("quality_score"))
        .orderBy("doc_id"),
      Some("""WITH b AS (
             |  SELECT doc_id,
             |    len(regexp_extract_all(text, '[^ \t\n\r\f]+')) AS nw,
             |    length(regexp_replace(text, '[ \t\n\r\f]', '', 'g')) AS nonws,
             |    length(text) AS nc,
             |    length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')) AS punct,
             |    length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS digits
             |  FROM documents)
             |SELECT doc_id, nw::INT AS n_words,
             |  round(nonws / (nw * 1.0), 6) AS mean_word_len,
             |  round(punct / (nc * 1.0), 6) AS punct_ratio,
             |  round(greatest(0.0, least(1.0,
             |    1.0 - abs(nonws / (nw * 1.0) - 5.0) / 10.0
             |        - punct / (nc * 1.0) - digits / (nc * 1.0))), 6) AS quality_score
             |FROM b ORDER BY doc_id""".stripMargin)),

    // ---- ts16: Gopher rule battery (Rae et al. 2021) — per-rule booleans
    // + the conjunction, one scan, every rule replayed in the oracle ----
    QueryDef("ts16_gopher_rules",
      (s, d) => TextAnalysis.gopherRules(t(s, d, "documents"), "text")
        .select("doc_id", "n_words", "mean_wl", "alpha_frac", "stop_hits",
          "r_words", "r_mean_wl", "r_symbol", "r_bullet", "r_ellipsis",
          "r_alpha", "r_stop", "gopher_pass")
        .orderBy("doc_id"),
      Some("""WITH w AS (
             |  SELECT doc_id, text,
             |         list_filter(regexp_split_to_array(trim(text), '[ \t\n\r\f]+'),
             |                     x -> length(x) > 0) AS words,
             |         string_split(text, chr(10)) AS lines
             |  FROM documents),
             |f AS (
             |  SELECT doc_id,
             |    len(words)::INT AS n_words,
             |    round(list_sum(list_transform(words, x -> length(x)))::DOUBLE
             |          / len(words), 6) AS mean_wl,
             |    round(len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE
             |          / len(words), 6) AS alpha_frac,
             |    len(list_distinct(list_filter(list_transform(words, x -> lower(x)),
             |        x -> x IN ('the','be','to','of','and','a','in','that'))))::INT
             |      AS stop_hits,
             |    round(((length(text) - length(replace(text, '#', '')))
             |     + (length(text) - length(replace(text, '...', ''))) / 3)
             |      / len(words), 6) AS symbol_ratio,
             |    round(len(list_filter(lines, x -> regexp_matches(ltrim(x), '^[-*•]')))::DOUBLE
             |      / len(lines), 6) AS bullet_frac,
             |    round(len(list_filter(lines, x -> ends_with(rtrim(x), '...')))::DOUBLE
             |      / len(lines), 6) AS ell_frac
             |  FROM w)
             |SELECT doc_id, n_words, mean_wl, alpha_frac, stop_hits,
             |  n_words BETWEEN 50 AND 100000 AS r_words,
             |  mean_wl BETWEEN 3.0 AND 10.0 AS r_mean_wl,
             |  symbol_ratio <= 0.1 AS r_symbol,
             |  bullet_frac <= 0.9 AS r_bullet,
             |  ell_frac <= 0.3 AS r_ellipsis,
             |  alpha_frac >= 0.8 AS r_alpha,
             |  stop_hits >= 2 AS r_stop,
             |  (n_words BETWEEN 50 AND 100000) AND (mean_wl BETWEEN 3.0 AND 10.0)
             |    AND symbol_ratio <= 0.1 AND bullet_frac <= 0.9
             |    AND ell_frac <= 0.3 AND alpha_frac >= 0.8
             |    AND stop_hits >= 2 AS gopher_pass
             |FROM f ORDER BY doc_id""".stripMargin)),

    // ---- token counting: whitespace + BPE-ish regex ----
    QueryDef("ts3_token_count",
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"),
          TextAnalysis.wordCount(col("text")).as("n_words"),
          TextAnalysis.tokenEstimate(col("text")).as("n_tokens"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  len(regexp_extract_all(text, '[^ \t\n\r\f]+'))::INT AS n_words,
             |  len(regexp_extract_all(text, '\w+|[^\w\s]'))::INT AS n_tokens
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- BPE tokenizer training: 8 merge rounds over the weighted
    // distinct-word table (corpus scanned ONCE; rounds are vocab-sized).
    // Oracle replays every round as chained MATERIALIZED CTEs with the
    // identical greedy fold, so the training LOOP itself is hash-checked ----
    QueryDef("tok1_bpe_merges",
      (s, d) => Bpe.mergesDf(s, bpeMerges(s, d)).orderBy("merge_rank"),
      Some(Bpe.learnOracleSql("documents", "text", bpeRounds))),

    // ---- BPE encoding with the frozen merge list: per-doc word/token
    // counts; only the broadcast (word, n_toks) vocab meets the text ----
    QueryDef("tok2_bpe_encode",
      (s, d) => Bpe.encode(t(s, d, "documents"), "doc_id", "text", bpeMerges(s, d))
        .orderBy("doc_id"),
      Some(Bpe.encodeOracleSql("documents", "doc_id", "text", bpeRounds))),

    // ---- the trained vocabulary with corpus occurrence counts — the
    // artifact shipped next to the merge list ----
    QueryDef("tok3_bpe_vocab",
      (s, d) => Bpe.vocabulary(t(s, d, "documents"), "text", bpeMerges(s, d))
        .orderBy("token"),
      Some(Bpe.vocabularyOracleSql("documents", "text", bpeRounds))),

    // ---- BPE training at REAL merge counts (VERDICT r14 item 3): the
    // driver-local merge loop (one distributed word-freq reduction, then
    // incremental pair-count updates over the model-sized vocab — no
    // Spark job pair per rank) asked for 1,000 merges. The driver
    // corpora exhaust their 31-word vocabulary far earlier — early-stop
    // is part of the pinned semantics; the gen-sf1 zipf corpus trains
    // the full 1,000 (timed in the round's scale artifact). Oracle = an
    // INDEPENDENT Python BPE (tools/make_fixtures.py make_tok4: full
    // recount per round vs the engine's incremental index), sf-sliced
    // like every static fixture. Bit-identity with the distributed
    // per-rank loop is pinned in BpeSpec and by tok1's oracle. ----
    QueryDef("tok4_bpe_1k",
      (s, d) => Bpe.mergesDf(s,
          Bpe.learnMergesLocal(t(s, d, "documents"), "text", nMerges = 1000))
        .orderBy("merge_rank"),
      Some("""SELECT merge_rank, a, b, merged, cnt
             |FROM read_parquet('/root/repo/fixtures/tok4_bpe_merges.parquet')
             |WHERE sf_key = (SELECT sum(n_chars) FROM documents)
             |ORDER BY merge_rank""".stripMargin)),

    // ---- corpus ENCODING with the 1k-merge model (closing tok4's loop:
    // a trained tokenizer exists to be applied): per-doc word/BPE-token
    // counts under the tok4 model, via the broadcast-kernel fold over
    // distinct words (Bpe.encodeFrozen) — tok2's expression-fold shape
    // is right at 8 merges and wrong at 1,000+ (the tree and its
    // interpreted per-row cost grow with k; the kernel pays one
    // substring gate per rank instead). Oracle = the SAME independent
    // Python BPE that pins tok4, extended to re-encode each document
    // with its trained model (make_fixtures.make_tok5), sf-sliced by
    // sum(n_chars); kernel ≡ expression-fold is additionally spec-pinned
    // at k = 8 in BpeSpec. ----
    QueryDef("tok5_bpe_encode_1k",
      (s, d) => Bpe.encodeFrozen(t(s, d, "documents"), "doc_id", "text",
          Bpe.learnMergesLocal(t(s, d, "documents"), "text", nMerges = 1000))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, n_words, n_tokens
             |FROM read_parquet('/root/repo/fixtures/tok5_bpe_encode.parquet')
             |WHERE sf_key = (SELECT sum(n_chars) FROM documents)
             |ORDER BY doc_id""".stripMargin)),

    // ---- document fingerprinting ----
    QueryDef("ts4_fingerprint",
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- Gopher-style repetition signals: duplicate word-3-gram fraction
    // + top-word coverage (Rae et al. 2021 boilerplate/spam gates) ----
    QueryDef("ts7_repetition",
      (s, d) => TextAnalysis.repetitionFeatures(t(s, d, "documents"), "text")
        .select("doc_id", "n_grams", "dup_gram_ratio", "top_word_ratio")
        .orderBy("doc_id"),
      Some("""WITH tk AS (
             |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS t FROM documents),
             |g AS (
             |  SELECT doc_id,
             |         [array_to_string(t[i:i+2], ' ')
             |          FOR i IN generate_series(1, greatest(len(t) - 2, 1))] AS grams,
             |         t
             |  FROM tk)
             |SELECT doc_id, len(grams)::INT AS n_grams,
             |       round((len(grams) - len(list_distinct(grams))) / (len(grams) * 1.0), 6)
             |         AS dup_gram_ratio,
             |       round(list_max([len(list_filter(t, x -> x = w)) FOR w IN list_distinct(t)])
             |             / (len(t) * 1.0), 6) AS top_word_ratio
             |FROM g ORDER BY doc_id""".stripMargin)),

    // ---- benchmark decontamination: drop training docs sharing any word
    // 8-gram with the benchmark corpus (GPT-3/LLaMA overlap rule); raw
    // string grams so the whole operator is oracle-green ----
    QueryDef("dd7_decontaminate",
      (s, d) => {
        val docs = t(s, d, "documents")
        Dedup.decontaminate(
            docs.filter(col("doc_id") % 17 =!= 0),
            "doc_id", "text",
            docs.filter(col("doc_id") % 17 === 0), "text",
            n = 8, hashGrams = false)
          .select("doc_id")
          .orderBy("doc_id")
      },
      Some("""WITH grams AS (
             |  SELECT doc_id,
             |         [array_to_string(t[i:i+7], ' ')
             |          FOR i IN generate_series(1, greatest(len(t) - 7, 1))] AS g
             |  FROM (SELECT doc_id, string_split_regex(lower(text), '\s+') AS t
             |        FROM documents)),
             |bg AS (SELECT DISTINCT unnest(g) AS gram FROM grams WHERE doc_id % 17 = 0),
             |dirty AS (
             |  SELECT DISTINCT d.doc_id
             |  FROM (SELECT doc_id, unnest(g) AS gram FROM grams WHERE doc_id % 17 <> 0) d
             |  JOIN bg USING (gram))
             |SELECT doc_id FROM documents
             |WHERE doc_id % 17 <> 0 AND doc_id NOT IN (SELECT doc_id FROM dirty)
             |ORDER BY doc_id""".stripMargin)),

    // ---- dd7b: the SAME decontamination through the Bloom-pruned scale
    // path — benchmark grams too large to broadcast at 100 TB, so a
    // Bloom filter prunes the corpus gram stream map-side before the
    // exact semi-join. The composition is exact (Bloom only prunes), so
    // the output and oracle are dd7's, and the hash gate proves the
    // pruning changed nothing ----
    QueryDef("dd7b_decontaminate_bloom",
      (s, d) => {
        val docs = t(s, d, "documents")
        Dedup.decontaminateBloom(
            docs.filter(col("doc_id") % 17 =!= 0),
            "doc_id", "text",
            docs.filter(col("doc_id") % 17 === 0), "text",
            n = 8, hashGrams = false)
          .select("doc_id")
          .orderBy("doc_id")
      },
      Some("""WITH grams AS (
             |  SELECT doc_id,
             |         [array_to_string(t[i:i+7], ' ')
             |          FOR i IN generate_series(1, greatest(len(t) - 7, 1))] AS g
             |  FROM (SELECT doc_id, string_split_regex(lower(text), '\s+') AS t
             |        FROM documents)),
             |bg AS (SELECT DISTINCT unnest(g) AS gram FROM grams WHERE doc_id % 17 = 0),
             |dirty AS (
             |  SELECT DISTINCT d.doc_id
             |  FROM (SELECT doc_id, unnest(g) AS gram FROM grams WHERE doc_id % 17 <> 0) d
             |  JOIN bg USING (gram))
             |SELECT doc_id FROM documents
             |WHERE doc_id % 17 <> 0 AND doc_id NOT IN (SELECT doc_id FROM dirty)
             |ORDER BY doc_id""".stripMargin)),

    // ---- span-level duplicate coverage (ExactSubstr signal, Lee et al.
    // 2022): per doc, positions whose 8-token gram recurs in other docs +
    // the longest verbatim shared span; inverted gram index, no pair join.
    // Raw string grams so the whole signal is oracle-green. ----
    QueryDef("dd8_span_coverage",
      (s, d) => Dedup.spanCoverage(t(s, d, "documents"), "doc_id", "text",
          l = 8, hashGrams = false)
        .orderBy("doc_id"),
      Some("""WITH toks AS (
             |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS t
             |  FROM documents),
             |pos0 AS (
             |  SELECT doc_id, t,
             |         unnest(generate_series(1, greatest(len(t) - 7, 1))) AS pos
             |  FROM toks),
             |positions AS (
             |  SELECT doc_id, pos, array_to_string(t[pos:pos+7], ' ') AS gram
             |  FROM pos0),
             |shared AS (
             |  SELECT gram FROM positions
             |  GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
             |marked AS (
             |  SELECT doc_id, pos FROM positions JOIN shared USING (gram)),
             |runs AS (
             |  SELECT doc_id,
             |         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
             |  FROM marked),
             |run_lens AS (
             |  SELECT doc_id, grp, count(*) AS run FROM runs GROUP BY doc_id, grp),
             |per_doc AS (
             |  SELECT doc_id, sum(run) AS n_shared, max(run) AS max_run
             |  FROM run_lens GROUP BY doc_id)
             |SELECT d.doc_id, greatest(len(t) - 7, 1)::BIGINT AS n_grams,
             |       coalesce(p.n_shared, 0)::BIGINT AS n_shared,
             |       round(coalesce(p.n_shared, 0) / greatest(len(t) - 7, 1), 6) AS dup_span_ratio,
             |       (CASE WHEN coalesce(p.max_run, 0) > 0
             |             THEN p.max_run + 7 ELSE 0 END)::BIGINT AS longest_span_tokens
             |FROM toks d LEFT JOIN per_doc p USING (doc_id)
             |ORDER BY d.doc_id""".stripMargin)),

    // ---- incremental exact dedup: a new batch anti-joined against the
    // already-ingested corpus's hash set, then first-wins in-batch ----
    QueryDef("dd9_incremental_dedup",
      (s, d) => {
        val docs = t(s, d, "documents")
        Dedup.incrementalExact(
            docs.filter(col("doc_id") % 7 === 0),
            docs.filter(col("doc_id") % 7 =!= 0), "doc_id", "text")
          .select("doc_id").orderBy("doc_id")
      },
      Some("""WITH fresh AS (
             |  SELECT doc_id, md5(text) AS h FROM documents
             |  WHERE doc_id % 7 = 0
             |    AND md5(text) NOT IN (SELECT md5(text) FROM documents WHERE doc_id % 7 <> 0))
             |SELECT min(doc_id) AS doc_id FROM fresh GROUP BY h
             |ORDER BY doc_id""".stripMargin)),

    // ---- incremental NEAR-dup: new batch LSH-flagged against the corpus
    // (dd9's steady-state shape lifted to MinHash; portable md5 algebra so
    // the cross-table pairing is oracle-green) ----
    QueryDef("dd11_incremental_neardup",
      (s, d) => {
        val docs = t(s, d, "documents")
        Dedup.incrementalNeardup(
            docs.filter(col("doc_id") % 7 === 0),
            docs.filter(col("doc_id") % 7 =!= 0), "doc_id", "text")
          .orderBy("doc")
      },
      Some(Dedup.incrementalNeardupOracleSql(
        "documents", "doc_id", "text", batchPred = "doc_id % 7 = 0"))),

    // ---- exact-substring span REMOVAL (the cut step of Lee et al. 2022;
    // dd8 measures coverage, this produces the cut corpus): verbatim
    // 8-token spans already seen in an earlier doc are cut, first
    // occurrence kept; case-insensitive matching, original case kept ----
    QueryDef("dd14_span_removal",
      (s, d) => Dedup.spanRemoval(t(s, d, "documents"), "doc_id", "text", l = 8,
          hashGrams = false)
        .orderBy("doc_id"),
      Some("""WITH toks AS (
             |  SELECT doc_id, string_split_regex(text, '\s+') AS t FROM documents),
             |pos0 AS (
             |  SELECT doc_id, t,
             |         unnest(generate_series(1, greatest(len(t) - 7, 1))) AS pos
             |  FROM toks),
             |positions AS (
             |  SELECT doc_id, pos,
             |         lower(array_to_string(t[pos:pos+7], ' ')) AS gram
             |  FROM pos0),
             |firstdoc AS (SELECT gram, min(doc_id) AS fd FROM positions GROUP BY gram),
             |removable AS (
             |  SELECT p.doc_id, p.pos FROM positions p JOIN firstdoc f USING (gram)
             |  WHERE p.doc_id > f.fd),
             |covered AS (SELECT DISTINCT doc_id, ti FROM (
             |  SELECT doc_id, unnest(generate_series(pos, pos + 7)) AS ti
             |  FROM removable)),
             |tokens AS (
             |  SELECT doc_id, unnest(generate_series(1, len(t))) AS ti,
             |         unnest(t) AS tok
             |  FROM toks),
             |kept AS (
             |  SELECT tk.doc_id, tk.ti, tk.tok FROM tokens tk
             |  LEFT JOIN covered c ON tk.doc_id = c.doc_id AND tk.ti = c.ti
             |  WHERE c.ti IS NULL),
             |rebuilt AS (
             |  SELECT doc_id, count(*) AS n_kept,
             |         string_agg(tok, ' ' ORDER BY ti) AS clean_text
             |  FROM kept GROUP BY doc_id)
             |SELECT d.doc_id, len(d.t)::BIGINT AS n_tokens,
             |       coalesce(r.n_kept, 0)::BIGINT AS n_kept,
             |       coalesce(r.clean_text, '') AS clean_text
             |FROM toks d LEFT JOIN rebuilt r USING (doc_id)
             |ORDER BY d.doc_id""".stripMargin)),

    // ---- cross-document boilerplate line removal (CCNet/RefinedWeb line
    // dedup): a normalized line recurring in >= 3 distinct docs is dropped
    // from every doc; survivors reassemble in original order ----
    QueryDef("dd13_line_dedup",
      (s, d) => Dedup.lineDedup(t(s, d, "documents"), "doc_id", "text", minDf = 3)
        .orderBy("doc_id"),
      Some("""WITH ls AS (
             |  SELECT doc_id, text, string_split(text, chr(10)) AS l FROM documents),
             |lines0 AS (
             |  SELECT doc_id, unnest(generate_series(1, len(l))) AS pos,
             |         unnest(l) AS line
             |  FROM ls),
             |lines AS (
             |  SELECT doc_id, pos, line, lower(trim(line)) AS k FROM lines0),
             |bp AS (
             |  SELECT k FROM (SELECT DISTINCT doc_id, k FROM lines WHERE len(k) > 0)
             |  GROUP BY k HAVING count(*) >= 3),
             |rebuilt AS (
             |  SELECT doc_id, count(*) AS n_kept,
             |         string_agg(line, chr(10) ORDER BY pos) AS clean_text
             |  FROM lines WHERE k NOT IN (SELECT k FROM bp)
             |  GROUP BY doc_id)
             |SELECT d.doc_id, len(d.l)::BIGINT AS n_lines,
             |       coalesce(r.n_kept, 0)::BIGINT AS n_kept,
             |       coalesce(r.clean_text, '') AS clean_text
             |FROM ls d LEFT JOIN rebuilt r USING (doc_id)
             |ORDER BY d.doc_id""".stripMargin)),

    // ---- TF-IDF keyword extraction: top-3 terms per doc, ranked on the
    // 6dp-rounded score with term tiebreak (engine-independent order) ----
    QueryDef("ts12_tfidf_keywords",
      (s, d) => graft.llm.Relevance.tfidfKeywords(t(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id", "rank"),
      Some("""WITH terms AS (
             |  SELECT doc_id, term, count(*) AS tf
             |  FROM (SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS term
             |        FROM documents)
             |  GROUP BY doc_id, term),
             |dfs AS (SELECT term, count(*) AS df FROM terms GROUP BY term),
             |n AS (SELECT count(*)::DOUBLE AS n FROM documents),
             |scored AS (
             |  SELECT doc_id, term,
             |         round(tf::DOUBLE * ln(n.n / df), 6) AS tfidf
             |  FROM terms JOIN dfs USING (term) CROSS JOIN n),
             |ranked AS (
             |  SELECT *, row_number() OVER (PARTITION BY doc_id
             |            ORDER BY tfidf DESC, term) AS rank
             |  FROM scored)
             |SELECT doc_id, rank::INT AS rank, term, tfidf FROM ranked
             |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin)),

    // ---- co-occurrence PMI (word-embedding statistics): forward window
    // pairs from offset generators (linear, no positions self-join) ----
    QueryDef("ts13_cooccurrence",
      (s, d) => graft.llm.Relevance.cooccurrencePmi(t(s, d, "documents"), "text",
          maxDist = 2, minCount = 5)
        .orderBy("w1", "w2"),
      Some(graft.llm.Relevance.cooccurrencePmiOracleSql("documents", "text",
        maxDist = 2, minCount = 5))),

    // ---- deterministic corpus shuffle: exact global rank under the md5
    // priority, two-level (range-sharded) so no global sort funnel ----
    QueryDef("cur8_corpus_shuffle",
      (s, d) => TextAnalysis.corpusShuffle(t(s, d, "documents"), "doc_id")
        .select("doc_id", "shuffle_pos").orderBy("doc_id"),
      Some("""SELECT doc_id,
             |       row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS shuffle_pos
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- similarity: cosine scores against a fixed query vector ----
    QueryDef("sim1_cosine_scores",
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
        emb.crossJoin(broadcast(q))
          .select(col("vec_id"),
            round(Similarity.cosine(col("embedding"), col("qvec")), 4).as("sim"))
          .orderBy("vec_id")
      },
      Some("""SELECT e.vec_id,
             |       round(list_cosine_similarity(e.embedding::DOUBLE[], q.qvec::DOUBLE[]), 4) AS sim
             |FROM embeddings e,
             |     (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0) q
             |ORDER BY e.vec_id""".stripMargin)),

    // ---- similarity: brute-force exact top-k. Oracle-checked end-to-end:
    // every cosine is the same left-to-right double fold on both engines
    // (queries are corpus members), so sims are bit-identical and
    // TopKAgg's (sim DESC, id) ordering replays as a row_number QUALIFY —
    // ranks cannot flip. 4dp via the engine-identical floor fold. ----
    QueryDef("sim2_topk_exact",
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val q = emb.filter(col("vec_id") < 3)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, "qid", "qvec", k = 10)
          .withColumn("sim", floor(col("sim") * 10000 + 0.5) / 10000.0)
          .orderBy("query_id", "rank")
      },
      Some("""WITH base AS MATERIALIZED (
             |  SELECT vec_id::BIGINT AS pid, embedding::DOUBLE[] AS pv FROM embeddings),
             |q AS (SELECT pid AS qid, pv AS qv FROM base WHERE pid < 3),
             |scored AS (
             |  SELECT q.qid AS query_id, b.pid AS id,
             |         (list_sum(list_transform(range(1, 65), i -> b.pv[i] * q.qv[i]))
             |          / (sqrt(list_sum(list_transform(range(1, 65), i -> b.pv[i] * b.pv[i])))
             |             * sqrt(list_sum(list_transform(range(1, 65), i -> q.qv[i] * q.qv[i]))))) AS s
             |  FROM base b CROSS JOIN q)
             |SELECT query_id, id,
             |       row_number() OVER (PARTITION BY query_id ORDER BY s DESC, id) AS rank,
             |       floor(s * 10000 + 0.5) / 10000.0 AS sim
             |FROM scored QUALIFY rank <= 10
             |ORDER BY query_id, rank""".stripMargin)),

    // ---- similarity: exact top-k, oracle-green form — ranking on the
    // 4dp-ROUNDED similarity with id tiebreak, so rank order is robust to
    // sub-1e-7 float accumulation differences between engines (sim2 ranks
    // on the raw float and stays rows-only for exactly that reason) ----
    QueryDef("sim2b_topk_rounded",
      (s, d) => exactTopKRounded(s, d),
      Some(sim2bOracleSql)),

    // ---- similarity: LSH-bucketed ANN (rows-only; recall vs exact in LlmSpec) ----
    QueryDef("sim3_lsh_ann",
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val q = emb.filter(col("vec_id") < 3)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        Similarity.lshTopK(emb, "vec_id", "embedding", q, "qid", "qvec", k = 10)
          .withColumn("sim", round(col("sim"), 4))
          .orderBy("query_id", "rank")
      },
      // queries are corpus members, so the whole ANN path — bucketing,
      // multi-probe, OR-tables, exact rerank — replays bit-for-bit in
      // DuckDB (shared plane literals, left-to-right double folds)
      Some(Similarity.lshTopKPortableOracleSql(
        "embeddings", "vec_id", "embedding", "vec_id < 3", k = 10))),

    // ---- similarity: IVF ANN (k-means coarse quantizer + cell probing;
    // rows-only: k-means assignment is model-dependent; recall vs exact is
    // asserted in LlmSpec) ----
    QueryDef("sim5_ivf_ann",
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val q = emb.filter(col("vec_id") < 3)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        val idx = Ivf.build(emb, "vec_id", "embedding", nLists = 16)
        Ivf.topK(idx, "vec_id", "embedding", q, "qid", "qvec", k = 10, nProbes = 4)
          .withColumn("sim", round(col("sim"), 4))
          .orderBy("query_id", "rank")
      },
      None),

    // ---- portable IVF ANN: md5-seeded fixed-round Lloyd's quantizer +
    // cell probe + in-cell rerank, EVERY stage replayed in DuckDB
    // (unrolled round CTEs; 6dp-rounded centroids make assignments
    // engine-identical; left-to-right cosine folds make ranks
    // tie-stable) — the third ANN family with an end-to-end oracle.
    // sim5 keeps the MLlib production path. ----
    QueryDef("sim5b_ivf_portable",
      (s, d) => ivfPortableTopK(s, d),
      Some(sim5bOracleSql)),

    // ---- sim10: ANN RECALL probe (the dd23/dd4d diagnostics posture for
    // the similarity tier): measured recall@10 of the portable IVF index
    // against the exact brute-force top-10, per query — the number an
    // ANN deployment publishes before anyone trusts the index, here as a
    // first-class queryable row instead of a spec-only assertion. Both
    // inputs are themselves hash-green queries (sim2b / sim5b share
    // these exact pipelines via exactTopKRounded / ivfPortableTopK), so
    // the intersection is deterministic cross-engine and the probe
    // carries a full DuckDB oracle by CTE-composing their two oracle
    // texts. Scale shape: both sides are top-k-bounded (k·queries rows),
    // the join is on (query, id) — the probe costs the two searches it
    // measures and nothing more. ----
    QueryDef("sim10_ann_recall",
      (s, d) => {
        val ex = exactTopKRounded(s, d).select(col("query_id"), col("id"))
        val iv = ivfPortableTopK(s, d)
          .select(col("query_id"), col("id"), lit(1).as("hit"))
        ex.join(iv, Seq("query_id", "id"), "left")
          .groupBy("query_id")
          .agg(count(lit(1)).as("k"),
            sum(coalesce(col("hit"), lit(0))).cast("long").as("hits"))
          .select(col("query_id"), col("hits"),
            (col("hits") / col("k")).as("recall_at_k"))
          .orderBy("query_id")
      },
      Some(s"""WITH exact_tk AS ($sim2bOracleSql),
              |ivf_tk AS ($sim5bOracleSql)
              |SELECT e.query_id, count(i.id)::BIGINT AS hits,
              |       count(i.id) / count(*)::DOUBLE AS recall_at_k
              |FROM exact_tk e LEFT JOIN ivf_tk i
              |  ON e.query_id = i.query_id AND e.id = i.id
              |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin)),

    // ---- similarity: product-quantization ANN (per-subspace k-means
    // codebooks, ADC scoring over the compact codes table, exact rerank;
    // rows-only: k-means codebooks are model-dependent; recall vs exact is
    // asserted in LlmSpec) ----
    // ---- sim7: SQ8 ANN — approximate top-k over the int8-quantized
    // store (emb6's codes, scored ADC-style: the affine dequantization
    // folds into a per-query constant + an int-codes dot against
    // per-query weights, so the scan never materializes a dequantized
    // array) + exact rerank of the top-50. The FIFTH ANN family (brute /
    // sign-LSH / IVF / PQ / SQ), and fully hash-green: integer codes,
    // literal model, canonical-order folds, corpus-member queries ⇒ the
    // whole search path (with the same ADC regrouping) replays
    // bit-for-bit in DuckDB ----
    QueryDef("sim7_sq_ann",
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val q = emb.filter(col("vec_id") < 3)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        Similarity.sqTopK(emb, "vec_id", "embedding", q, "qid", "qvec",
            kTop = 10, rerank = 50)
          .withColumn("sim", floor(col("sim") * 10000 + 0.5) / 10000.0)
          .orderBy("query_id", "rank")
      },
      Some("""WITH base AS MATERIALIZED (
             |  SELECT vec_id::BIGINT AS pid, embedding::DOUBLE[] AS pv FROM embeddings),
             |dims AS (
             |  SELECT i.i AS i, min(b.pv[i.i]) AS mn, max(b.pv[i.i]) AS mx
             |  FROM base b, (SELECT unnest(generate_series(1, 64)) AS i) i
             |  GROUP BY i.i),
             |model AS (SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs
             |          FROM dims),
             |coded AS MATERIALIZED (
             |  SELECT b.pid,
             |    [CASE WHEN m.mxs[i] > m.mns[i]
             |          THEN greatest(0.0, least(255.0,
             |               floor((b.pv[i] - m.mns[i]) / (m.mxs[i] - m.mns[i]) * 255 + 0.5)))
             |          ELSE 0.0 END::INT
             |     FOR i IN generate_series(1, 64)] AS codes
             |  FROM base b, model m),
             |dq AS MATERIALIZED (
             |  SELECT c.pid, c.codes,
             |    sqrt(list_sum([
             |      (m.mns[i] + c.codes[i]::DOUBLE / 255.0 * (m.mxs[i] - m.mns[i]))
             |      * (m.mns[i] + c.codes[i]::DOUBLE / 255.0 * (m.mxs[i] - m.mns[i]))
             |      FOR i IN generate_series(1, 64)])) AS nrm
             |  FROM coded c, model m),
             |q AS (SELECT pid AS query_id, pv AS qv FROM base WHERE pid < 3),
             |qx AS (
             |  -- the ADC regrouping the Spark scan performs:
             |  -- dot(dequant(c), q) = cq + SUM c_i * w_i,
             |  -- cq = SUM q_i*mn_i, w_i = q_i * ((mx_i - mn_i)/255)
             |  SELECT q.query_id, q.qv,
             |         sqrt(list_sum([q.qv[i] * q.qv[i] FOR i IN generate_series(1, 64)])) AS qnrm,
             |         list_sum([q.qv[i] * m.mns[i] FOR i IN generate_series(1, 64)]) AS cq,
             |         [q.qv[i] * ((m.mxs[i] - m.mns[i]) / 255.0)
             |          FOR i IN generate_series(1, 64)] AS wv
             |  FROM q, model m),
             |approx AS (
             |  SELECT qx.query_id, d.pid,
             |         (qx.cq + list_sum([d.codes[i]::DOUBLE * qx.wv[i]
             |                            FOR i IN generate_series(1, 64)]))
             |         / (d.nrm * qx.qnrm) AS s
             |  FROM dq d CROSS JOIN qx),
             |cands AS (
             |  SELECT query_id, pid FROM approx
             |  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY s DESC, pid) <= 50),
             |rer AS (
             |  SELECT c.query_id, c.pid AS id,
             |         list_sum([b.pv[i] * q.qv[i] FOR i IN generate_series(1, 64)])
             |         / (sqrt(list_sum([b.pv[i] * b.pv[i] FOR i IN generate_series(1, 64)]))
             |            * sqrt(list_sum([q.qv[i] * q.qv[i] FOR i IN generate_series(1, 64)]))) AS sim
             |  FROM cands c JOIN base b ON b.pid = c.pid JOIN q ON q.query_id = c.query_id)
             |SELECT query_id, id,
             |       row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, id) AS rank,
             |       floor(sim * 10000 + 0.5) / 10000.0 AS sim
             |FROM rer QUALIFY rank <= 10
             |ORDER BY query_id, rank""".stripMargin)),

    QueryDef("sim6_pq_ann",
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val q = emb.filter(col("vec_id") < 3)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        val idx = Pq.build(emb, "vec_id", "embedding", m = 4, k = 16)
        val out = Pq.topK(idx, emb, "vec_id", "embedding", q, "qid", "qvec",
            kTop = 10, rerank = 50)
          .withColumn("sim", round(col("sim"), 4))
          .orderBy("query_id", "rank")
        out
      },
      None),

    // ---- portable PQ ANN: per-subspace md5-seeded Lloyd's codebooks,
    // wide-code ADC (explicit left-associative d² chain — no fold-order
    // leakage), exact cosine rerank; EVERY stage replayed in DuckDB —
    // with sim3 (LSH) and sim5b (IVF), all three ANN families now have
    // an end-to-end oracle. sim6 keeps the MLlib production path. ----
    QueryDef("sim6b_pq_portable",
      (s, d) => Pq.portableTopK(t(s, d, "embeddings"), "vec_id", "embedding",
        m = 4, k = 16, rounds = 3, dim = 64, nQueries = 3, rerank = 50, kTop = 10),
      Some(Pq.portableOracleSql("embeddings", "vec_id", "embedding",
        m = 4, k = 16, rounds = 3, dim = 64, nQueries = 3, rerank = 50, kTop = 10))),

    // ---- similarity: IVFADC ANN — IVF coarse quantizer + PQ of the
    // RESIDUALS + in-cell ADC (Jégou et al. TPAMI 2011 §IV; FAISS
    // IndexIVFPQ — THE standard billion-scale layout). Production path:
    // both quantizer tiers trained driver-locally on a bounded hash
    // sample (the FAISS train posture), index+search fully distributed.
    // Rows-only: quantizers are model-dependent. Recall vs exact pinned
    // in LlmSpec. ----
    QueryDef("sim8_ivfadc_ann",
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val q = emb.filter(col("vec_id") < 3)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        // trainHashMod=4: codebooks fit on a deterministic quarter-sample
        // (still >700 points per centroid at sf0.1), everything encoded —
        // the bounded-training posture a 100 TB corpus forces anyway
        Ivfadc.topK(emb, "vec_id", "embedding", q, "qid", "qvec",
            nLists = 8, m = 4, k = 16, dim = 64,
            kTop = 10, rerank = 50, nProbes = 2, trainHashMod = 4)
          .withColumn("sim", round(col("sim"), 4))
      },
      None),

    // ---- portable IVFADC: md5-seeded fixed-round Lloyd's for BOTH
    // quantizer tiers (coarse cells AND per-subspace residual codebooks),
    // bit-exact residual projection (raw doubles − 6dp-rounded
    // centroids), COSINE probe, explicit left-associative ADC chain, exact
    // cosine rerank — the entire IVFADC search replayed in DuckDB. With
    // sim3 (LSH), sim5b (IVF), sim6b (PQ) and sim7 (SQ8), all FIVE ANN
    // families plus their flagship composition now have end-to-end
    // oracles. sim8 keeps the MLlib production path. ----
    QueryDef("sim8b_ivfadc_portable",
      (s, d) => Ivfadc.portableTopK(t(s, d, "embeddings"), "vec_id", "embedding",
        train = lit(true), query = col("vec_id") < 3,
        kCoarse = 8, coarseRounds = 3, m = 4, k = 16, pqRounds = 3, dim = 64,
        nProbes = 3, rerank = 50, kTop = 10),
      Some(Ivfadc.portableOracleSql("embeddings", "vec_id", "embedding",
        trainSql = "true", querySql = "pid < 3",
        kCoarse = 8, coarseRounds = 3, m = 4, k = 16, pqRounds = 3, dim = 64,
        nProbes = 3, rerank = 50, kTop = 10))),

    // ---- incremental ANN ingest (dd20/dd22's posture lifted to the ANN
    // family): quantizers train ONLY on the held corpus, the new batch
    // (vec_id % 11 = 3) is encoded against the FROZEN codebooks — cell,
    // residual, m codes, exactly FAISS add() after train() — and
    // new-batch queries search the union index. Hash-green end-to-end:
    // retraining on ingest would shift centroids and fail the oracle,
    // so the add-after-train contract itself is what the hash pins. ----
    QueryDef("sim9_incremental_ann",
      (s, d) => {
        val isNew = col("vec_id") % 11 === 3
        Ivfadc.portableTopK(t(s, d, "embeddings"), "vec_id", "embedding",
          train = !isNew, query = isNew && col("vec_id") % 55 === 3,
          kCoarse = 8, coarseRounds = 3, m = 4, k = 16, pqRounds = 3, dim = 64,
          nProbes = 3, rerank = 50, kTop = 10)
      },
      Some(Ivfadc.portableOracleSql("embeddings", "vec_id", "embedding",
        trainSql = "NOT (pid % 11 = 3)", querySql = "pid % 11 = 3 AND pid % 55 = 3",
        kCoarse = 8, coarseRounds = 3, m = 4, k = 16, pqRounds = 3, dim = 64,
        nProbes = 3, rerank = 50, kTop = 10))),

    // ---- similarity: embedding cosine near-dup pairs (rows-only).
    // Threshold 0.4: this corpus's max pairwise cosine is ~0.51, so higher
    // thresholds are vacuously empty. Planes/tables are auto-sized from the
    // corpus count + threshold S-curve (constant expected bucket size →
    // linear candidate volume at any corpus scale). ----
    QueryDef("sim4_cosine_neardup",
      (s, d) => Similarity.cosineNearDupPairs(t(s, d, "embeddings"), "vec_id", "embedding",
          threshold = 0.4)
        .withColumn("sim", round(col("sim"), 4))
        .orderBy("id1", "id2"),
      None),

    // ---- portable embedding near-dup: fixed (6 planes, 4 tables), the
    // SAME plane doubles inlined into both engines and every dot folding
    // left-to-right — the sign-LSH bucketing + pairing + cosine verify
    // hash-check end-to-end (sim4 keeps the auto-sized fast path) ----
    QueryDef("sim4b_neardup_portable",
      (s, d) => Similarity.cosineNearDupPairs(t(s, d, "embeddings"), "vec_id", "embedding",
          threshold = 0.4, nPlanes = 6, nTables = 4, dim = 64)
        .withColumn("sim", round(col("sim"), 4))
        .orderBy("id1", "id2"),
      Some(Similarity.cosineNearDupPortableOracleSql(
        "embeddings", "vec_id", "embedding",
        threshold = 0.4, nPlanes = 6, nTables = 4, dim = 64))),

    // ---- output-bounded cosine evidence (VERDICT r14 item 1): sim4b's
    // portable near-dup pairs summarized per vector — partner count +
    // top-5 partners by cosine DESC (ranked on the 4dp-rounded sim both
    // engines agree on bit-for-bit; ord = −sim keeps the heap ascending).
    // Output <= 5·n rows via the per-partition bounded heap — the form
    // that replaces materializing the quadratic pair answer at scale. ----
    QueryDef("sim4c_cosine_topk_per_doc",
      (s, d) => {
        val pairs = Similarity.cosineNearDupPairs(t(s, d, "embeddings"),
            "vec_id", "embedding",
            threshold = 0.4, nPlanes = 6, nTables = 4, dim = 64)
          .withColumn("sim", round(col("sim"), 4))
        Dedup.pairTopKPerDoc(pairs, "id1", "id2", ord = -col("sim"), k = 5)
          .select(col("doc").as("vec_id"), col("n_candidates"), col("rank"),
            col("partner"), (-col("ord")).as("sim"))
          .orderBy("vec_id", "rank")
      },
      Some(Dedup.pairTopKPerDocOracleSql(
        Similarity.cosineNearDupPortableOracleSql("embeddings", "vec_id", "embedding",
          threshold = 0.4, nPlanes = 6, nTables = 4, dim = 64),
        docAlias = "vec_id", orderSql = "sim DESC", k = 5,
        extraCols = Seq("sim"), extraSelect = ", sim"))),

    // ---- multimodal: binary payload + metadata plumbing ----
    QueryDef("mm1_media_meta",
      (s, d) => Multimodal.asMediaTable(t(s, d, "documents"), "doc_id", "text")
        .select(col("media_id"), col("meta.n_bytes").as("n_bytes"))
        .orderBy("media_id"),
      Some("""SELECT doc_id AS media_id, octet_length(encode(text))::BIGINT AS n_bytes
             |FROM documents ORDER BY media_id""".stripMargin)),

    // ---- multimodal: strided frame sampling counts ----
    QueryDef("mm2_frame_sample",
      (s, d) => Multimodal.sampleFrames(
          Multimodal.asMediaTable(t(s, d, "documents"), "doc_id", "text"), chunk = 64, stride = 4)
        .groupBy("media_id").agg(count(lit(1)).as("n_frames"))
        .orderBy("media_id"),
      Some("""SELECT doc_id AS media_id,
             |       (greatest(ceil(octet_length(encode(text)) / 64.0)::BIGINT - 1, 0) // 4 + 1) AS n_frames
             |FROM documents ORDER BY media_id""".stripMargin)),

    // ---- multimodal: resize stage chained into frame sampling — the
    // stub rewrites meta only (a real codec would rewrite content);
    // proves the stage composes with downstream plumbing intact ----
    QueryDef("mm5_resize",
      (s, d) => {
        val resized = Multimodal.resize(
          Multimodal.asMediaTable(t(s, d, "documents"), "doc_id", "text"), 224, 224)
        Multimodal.sampleFrames(resized, chunk = 64, stride = 4)
          .groupBy("media_id").agg(count(lit(1)).as("n_frames"))
          .join(resized.select(col("media_id"),
            col("meta.width").as("width"), col("meta.height").as("height")), "media_id")
          .orderBy("media_id")
      },
      Some("""SELECT doc_id AS media_id,
             |       (greatest(ceil(octet_length(encode(text)) / 64.0)::BIGINT - 1, 0) // 4 + 1) AS n_frames,
             |       224 AS width, 224 AS height
             |FROM documents ORDER BY media_id""".stripMargin)),

    // ---- multimodal: stubbed decode → feature extraction (rows-only) ----
    QueryDef("mm3_features",
      (s, d) => Multimodal.extractFeatures(
          Multimodal.asMediaTable(t(s, d, "documents"), "doc_id", "text"), dim = 8)
        .select(col("media_id"),
          round(element_at(col("features"), 1).cast("double"), 4).as("f0"))
        .orderBy("media_id"),
      // static-fixture oracle: the stub decode reimplemented independently
      // in Python (tools/make_fixtures.py make_mm3 — signed-byte fold, LCG,
      // float32 division), so the whole mapPartitions plumbing hash-checks
      Some("""SELECT media_id, f0
             |FROM read_parquet('/root/repo/fixtures/mm3_features.parquet')
             |WHERE sf_key = (SELECT sum(n_chars) FROM documents)
             |ORDER BY media_id""".stripMargin)),

    // ---- perceptual-hash media dedup: decode → aHash bit packing →
    // exact-collision groups with min-id survivor. Oracle: the stub
    // decode + float mean + MSB packing reimplemented independently in
    // Python (make_fixtures.make_mm4); the survivor logic replays in SQL
    // over the fixture fingerprints ----
    QueryDef("mm4_perceptual_dedup",
      (s, d) => Multimodal.perceptualDedup(
          Multimodal.asMediaTable(t(s, d, "documents"), "doc_id", "text"), dim = 64)
        .orderBy("media_id"),
      Some("""WITH p AS (
             |  SELECT media_id, phash
             |  FROM read_parquet('/root/repo/fixtures/mm4_phash.parquet')
             |  WHERE sf_key = (SELECT sum(n_chars) FROM documents))
             |SELECT media_id, phash,
             |       media_id = min(media_id) OVER (PARTITION BY phash) AS survivor
             |FROM p ORDER BY media_id""".stripMargin)),

    // ---- REAL codec tier (javax.imageio PNG): the synthetic pixel
    // formula is pure integer math of (id, x, y), and PNG is lossless, so
    // after the real ImageIO encode→decode round trip every decoded pixel
    // equals the formula — the oracles below replay all post-decode math
    // codec-free in DuckDB and the codec path hash-checks end-to-end ----

    // mm6: encode 32×32 PNGs, REALLY decode them, emit pixel checksum +
    // total integer luma per image
    QueryDef("mm6_png_roundtrip",
      (s, d) => Multimodal.decodeChecksums(
          imageMemo(s, d))
        .orderBy("media_id"),
      Some(s"""WITH rgb AS ($mmRgbSql)
              |SELECT media_id, 32 AS width, 32 AS height,
              |       sum((r + 256*g + 65536*b) * (1 + x + 32*y))::BIGINT AS pix_checksum,
              |       sum((299*r + 587*g + 114*b) // 1000)::BIGINT AS sum_luma
              |FROM rgb GROUP BY media_id ORDER BY media_id""".stripMargin)),

    // mm7: real decode → 8×8 block-mean luma features (sum/64 is
    // IEEE-exact, so the doubles match bit-for-bit)
    QueryDef("mm7_image_features",
      (s, d) => Multimodal.imageBlockFeatures(
          imageMemo(s, d), block = 8)
        .orderBy("media_id", "block_id"),
      Some(s"""WITH rgb AS ($mmRgbSql)
              |SELECT media_id, ((y // 8) * 4 + (x // 8))::INT AS block_id,
              |       sum((299*r + 587*g + 114*b) // 1000)::BIGINT / 64.0 AS mean_luma
              |FROM rgb GROUP BY media_id, block_id
              |ORDER BY media_id, block_id""".stripMargin)),

    // mm8: real decode → nearest-neighbor resize to 8×8 → re-encode → real
    // decode AGAIN → checksum (the codec runs twice per image); oracle is
    // the NN index formula src = dst·4 over the pixel generator
    QueryDef("mm8_image_resize",
      (s, d) => Multimodal.decodeChecksums(
          Multimodal.imageResizeNN(
            imageMemo(s, d), 8, 8))
        .orderBy("media_id"),
      Some(s"""WITH rgb AS ($mmRgbSql),
              |th AS (SELECT media_id, (x // 4)::BIGINT AS dx, (y // 4)::BIGINT AS dy, r, g, b
              |       FROM rgb WHERE x % 4 = 0 AND y % 4 = 0)
              |SELECT media_id, 8 AS width, 8 AS height,
              |       sum((r + 256*g + 65536*b) * (1 + dx + 8*dy))::BIGINT AS pix_checksum,
              |       sum((299*r + 587*g + 114*b) // 1000)::BIGINT AS sum_luma
              |FROM th GROUP BY media_id ORDER BY media_id""".stripMargin)),

    // mm9: real perceptual aHash dedup — 8×8 NN luma thumbnail vs its
    // /64-exact mean, MSB-first packed into two 32-bit halves. Images
    // sharing a synth pattern differ by a flat luma offset only (the
    // planted near-duplicates), so they collide here while their PNG
    // bytes differ
    QueryDef("mm9_phash_dedup",
      (s, d) => Multimodal.imagePerceptualDedup(
          imageMemo(s, d))
        .orderBy("media_id"),
      Some(s"""WITH rgb AS ($mmRgbSql),
              |tl AS (SELECT media_id, ((y // 4) * 8 + (x // 4))::BIGINT AS i,
              |              (299*r + 587*g + 114*b) // 1000 AS l
              |       FROM rgb WHERE x % 4 = 0 AND y % 4 = 0),
              |m AS (SELECT media_id, sum(l)::BIGINT / 64.0 AS mean
              |      FROM tl GROUP BY media_id),
              |ph AS (SELECT tl.media_id,
              |              sum(CASE WHEN l > mean AND i < 32
              |                  THEN (1::BIGINT << (31 - i)::INT) ELSE 0 END)::BIGINT AS phash_hi,
              |              sum(CASE WHEN l > mean AND i >= 32
              |                  THEN (1::BIGINT << (63 - i)::INT) ELSE 0 END)::BIGINT AS phash_lo
              |       FROM tl JOIN m USING (media_id) GROUP BY tl.media_id)
              |SELECT media_id, phash_hi, phash_lo,
              |       media_id = min(media_id) OVER (PARTITION BY phash_hi, phash_lo) AS survivor
              |FROM ph ORDER BY media_id""".stripMargin)),

    // mm10: REAL audio codec (javax.sound.sampled WAV/PCM) — synthesize
    // 1024-sample clips from an integer formula, encode through the real
    // WAV writer, decode through the real parser (header walk, format
    // negotiation), then per-256-sample frame: energy, zero crossings,
    // peak. 16-bit PCM is lossless, so the oracle replays the framing
    // over the sample formula codec-free
    QueryDef("mm10_wav_frames",
      (s, d) => Multimodal.audioFrameFeatures(
          Multimodal.audioTable(t(s, d, "documents"), "doc_id"), frame = 256)
        .orderBy("media_id", "frame_idx"),
      Some("""WITH smp AS (
             |  SELECT d.doc_id AS media_id, i.i,
             |         (((d.doc_id % 64) * 131 + i.i * (7 + d.doc_id % 16)) % 4096 - 2048) AS s
             |  FROM documents d, (SELECT unnest(generate_series(0, 1023)) AS i) i),
             |fr AS (
             |  SELECT media_id, (i // 256)::INT AS frame_idx, i, s,
             |         lag(s) OVER (PARTITION BY media_id ORDER BY i) AS prev
             |  FROM smp)
             |SELECT media_id, frame_idx,
             |       sum(s * s)::BIGINT AS energy,
             |       sum(CASE WHEN i % 256 <> 0 AND (s < 0) <> (prev < 0)
             |           THEN 1 ELSE 0 END)::BIGINT AS zero_crossings,
             |       max(abs(s))::INT AS peak
             |FROM fr GROUP BY media_id, frame_idx
             |ORDER BY media_id, frame_idx""".stripMargin)),

    // mm11: LOSSY tier — the JDK's real JPEG codec at fixed quality 0.85.
    // No codec-free oracle exists (JPEG output is implementation-defined),
    // so this is a documented rows-only entry whose contract is the
    // tolerance band pinned in LlmSpec: block-mean luma drift <= 2 levels,
    // aHash wobble <= 8 of 64 bits, >= 75% of the mm9 exact-collision
    // groups stable at q=0.85 AND the partition fully identical at
    // q=0.95. The honest finding the report carries: features survive the
    // codec essentially unchanged, EXACT-collision fingerprint dedup does
    // not at moderate quality (borderline bits flip) — at 100 TB you run
    // the q=0.85 corpus through a Hamming-tolerant index, not exact groups
    QueryDef("mm11_jpeg_stability",
      (s, d) => Multimodal.jpegStability(imageMemo(s, d), quality = 0.85f)
        .orderBy("media_id"),
      None),

    // mm12: the Hamming-TOLERANT perceptual dedup mm11's finding demands
    // (exact-collision groups don't survive a q=0.85 JPEG round trip; a
    // distance-3 tolerance absorbs the borderline-bit wobble). 4 x 16-bit
    // pigeonhole banding over the real aHash — any pair within distance 3
    // shares a chunk, so candidates come from four equi-joins, never an
    // all-pairs join. On the lossless PNG corpus every step (thumbnail,
    // packing, banding, xor popcount, survivor rule) replays codec-free
    // in DuckDB — the tolerant index itself is hash-checked; its
    // codec-stability at q=0.85 is pinned in LlmSpec
    QueryDef("mm12_hamming_dedup",
      (s, d) => Multimodal.imageHammingDedup(imageMemo(s, d), maxDist = 3)
        .orderBy("media_id"),
      Some(s"""WITH rgb AS ($mmRgbSql),
              |tl AS (SELECT media_id, ((y // 4) * 8 + (x // 4))::BIGINT AS i,
              |              (299*r + 587*g + 114*b) // 1000 AS l
              |       FROM rgb WHERE x % 4 = 0 AND y % 4 = 0),
              |m AS (SELECT media_id, sum(l)::BIGINT / 64.0 AS mean
              |      FROM tl GROUP BY media_id),
              |ph AS (SELECT tl.media_id,
              |              sum(CASE WHEN l > mean AND i < 32
              |                  THEN (1::BIGINT << (31 - i)::INT) ELSE 0 END)::BIGINT AS phash_hi,
              |              sum(CASE WHEN l > mean AND i >= 32
              |                  THEN (1::BIGINT << (63 - i)::INT) ELSE 0 END)::BIGINT AS phash_lo
              |       FROM tl JOIN m USING (media_id) GROUP BY tl.media_id),
              |banded AS (
              |  SELECT media_id, phash_hi, phash_lo, chunk,
              |         CASE chunk WHEN 0 THEN phash_hi & 65535
              |                    WHEN 1 THEN (phash_hi >> 16) & 65535
              |                    WHEN 2 THEN phash_lo & 65535
              |                    ELSE (phash_lo >> 16) & 65535 END AS ckey
              |  FROM ph, (SELECT unnest(generate_series(0, 3)) AS chunk)),
              |pairs AS (
              |  SELECT DISTINCT a.media_id AS id1, b.media_id AS id2,
              |         bit_count(xor(a.phash_hi, b.phash_hi)) +
              |         bit_count(xor(a.phash_lo, b.phash_lo)) AS dist
              |  FROM banded a JOIN banded b
              |    ON a.chunk = b.chunk AND a.ckey = b.ckey AND a.media_id < b.media_id),
              |nb AS (SELECT id2 AS media_id, min(id1) AS min_neighbor
              |       FROM pairs WHERE dist <= 3 GROUP BY id2)
              |SELECT p.media_id, p.phash_hi, p.phash_lo,
              |       coalesce(nb.min_neighbor, -1) AS min_neighbor,
              |       nb.min_neighbor IS NULL AS survivor
              |FROM ph p LEFT JOIN nb USING (media_id)
              |ORDER BY p.media_id""".stripMargin)),

    // ---- document chunking: fixed windows with overlap ----
    QueryDef("ts5_chunking",
      (s, d) => TextAnalysis.chunk(t(s, d, "documents"), "doc_id", "text", size = 200, overlap = 20)
        .orderBy("doc_id", "chunk_idx"),
      Some("""SELECT doc_id, chunk_idx, substr(text, chunk_idx * 180 + 1, 200) AS chunk
             |FROM (SELECT doc_id, text,
             |        unnest(generate_series(0, greatest((length(text) - 1) // 180, 0)))::INT AS chunk_idx
             |      FROM documents)
             |WHERE length(substr(text, chunk_idx * 180 + 1, 200)) > 0
             |ORDER BY doc_id, chunk_idx""".stripMargin)),

    // ---- PII scrub: email + long digit runs redacted ----
    QueryDef("ts6_pii_scrub",
      (s, d) => t(s, d, "documents")
        .withColumn("raw", concat(lit("contact user"), col("doc_id"), lit("@example.com tel 5551234567 "),
          substring(col("text"), 1, 60)))
        .select(col("doc_id"), TextAnalysis.scrubPii(col("raw")).as("clean"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  regexp_replace(
             |    regexp_replace('contact user' || doc_id || '@example.com tel 5551234567 ' || substr(text, 1, 60),
             |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             |    '\d{7,}', '<NUM>', 'g') AS clean
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- normalized exact dedup: the CCNet-style normalization (case /
    // digits / punctuation / whitespace folded) applied to the dedup KEY
    // only — catches near-identical docs plain md5 misses ----
    QueryDef("ts17_normalized_dedup",
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"),
          md5(TextAnalysis.normalizeForDedup(col("text"))).as("h"))
        .groupBy("h").agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("cnt"))
        .orderBy("h"),
      Some("""SELECT md5(trim(regexp_replace(
             |         regexp_replace(
             |           regexp_replace(lower(text), '[0-9]', '0', 'g'),
             |           '[^a-z0-9 \t\n\r\f]', '', 'g'),
             |         '[ \t\n\r\f]+', ' ', 'g'))) AS h,
             |       min(doc_id) AS keep_id, count(*) AS cnt
             |FROM documents GROUP BY 1 ORDER BY h""".stripMargin)),

    // ---- Unicode NFC normalization (native codegen expression over the
    // JDK normalizer; DuckDB's nfc_normalize is the oracle): each doc is
    // lifted to a COMPOSED variant (é U+00E9 …) and a DECOMPOSED twin
    // (e + combining U+0301 …) — different bytes, same text. The NFC'd
    // md5 groups must pair them back up (cnt 2 per group), and the
    // per-doc equality column pins our normalizer against DuckDB's
    // codepoint for codepoint. Without this pass, visually-identical
    // duplicates sail through every hash-keyed dedup in the tier. ----
    QueryDef("ts18_nfc_dedup",
      (s, d) => {
        // decomposed twin: base letter + combining mark (U+0301 acute /
        // U+0308 diaeresis) — different bytes, same rendered text; NFC
        // must fold it back onto the composed variant
        val dec = Seq(("a", "a\u0301"), ("e", "e\u0301"), ("i", "i\u0301"),
            ("o", "o\u0308"), ("u", "u\u0308"))
          .foldLeft(lower(col("text")): org.apache.spark.sql.Column) {
            case (c, (from, to)) => regexp_replace(c, from, to)
          }
        t(s, d, "documents").filter(col("doc_id") % 7 === 0)
          .select(col("doc_id"),
            translate(lower(col("text")), "aeiou", "\u00e1\u00e9\u00ed\u00f6\u00fc").as("comp"),
            dec.as("decomp"))
          .select(col("doc_id"),
            md5(graft.functions.NfcNormalize(col("decomp"))).as("h"),
            (graft.functions.NfcNormalize(col("decomp")) === col("comp")).as("collapsed"))
          .orderBy("doc_id")
      },
      Some(s"""WITH sel AS (SELECT doc_id, lower(text) AS t FROM documents WHERE doc_id % 7 = 0),
              |v AS (SELECT doc_id,
              |        translate(t, 'aeiou', 'áéíöü') AS comp,
              |        replace(replace(replace(replace(replace(t,
              |          'a', 'a' || chr(769)), 'e', 'e' || chr(769)),
              |          'i', 'i' || chr(769)), 'o', 'o' || chr(776)),
              |          'u', 'u' || chr(776)) AS decomp
              |      FROM sel)
              |SELECT doc_id, md5(nfc_normalize(decomp)) AS h,
              |       nfc_normalize(decomp) = comp AS collapsed
              |FROM v ORDER BY doc_id""".stripMargin)),

    // ---- Flesch / Flesch-Kincaid readability: vowel-group syllable
    // heuristic, three codegen'd regexp counts per row, scores NULL when
    // no alphabetic word exists ----
    QueryDef("ts19_readability",
      (s, d) => TextAnalysis.readability(t(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      Some("""WITH c AS (
             |  SELECT doc_id,
             |         len(regexp_extract_all(lower(text), '[a-z]+')) AS words,
             |         greatest(len(regexp_extract_all(lower(text), '[.!?]+')), 1) AS sentences,
             |         len(regexp_extract_all(lower(text), '[aeiouy]+')) AS syllables
             |  FROM documents)
             |SELECT doc_id, words, sentences, syllables,
             |       CASE WHEN words > 0 THEN
             |         floor((206.835::DOUBLE - 1.015::DOUBLE * words / sentences
             |               - 84.6::DOUBLE * syllables / words) * 10000 + 0.5) / 10000.0
             |       END AS flesch,
             |       CASE WHEN words > 0 THEN
             |         floor((0.39::DOUBLE * words / sentences
             |               + 11.8::DOUBLE * syllables / words - 15.59::DOUBLE) * 10000 + 0.5) / 10000.0
             |       END AS fk_grade
             |FROM c ORDER BY doc_id""".stripMargin)),

    // ---- lexical diversity: type-token ratio + unigram entropy (the
    // declarative proxy for perplexity gating) ----
    QueryDef("ts8_lexical_diversity",
      (s, d) => TextAnalysis.lexicalDiversity(t(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      Some("""WITH counts AS (
             |  SELECT doc_id, tok, count(*) AS c
             |  FROM (SELECT doc_id,
             |          unnest(string_split_regex(lower(text), '\s+')) AS tok
             |        FROM documents)
             |  GROUP BY doc_id, tok)
             |SELECT doc_id, sum(c)::BIGINT AS n_tokens, count(*) AS n_types,
             |       round(count(*) / (sum(c) * 1.0), 6) AS ttr,
             |       round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 4) AS entropy
             |FROM counts GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ---- vocabulary build: per-term corpus tf + doc frequency ----
    QueryDef("ts9_vocab",
      (s, d) => graft.llm.Relevance.vocabulary(t(s, d, "documents"), "doc_id", "text",
          minDf = 2)
        .orderBy("term"),
      Some("""SELECT term, count(*) AS tf, count(DISTINCT doc_id) AS df
             |FROM (SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS term
             |      FROM documents)
             |GROUP BY term HAVING count(DISTINCT doc_id) >= 2
             |ORDER BY term""".stripMargin)),

    // ---- BM25 keyword relevance: one scan + one broadcast stats row;
    // identical expression tree on both engines, 4dp rounding ----
    QueryDef("ts10_bm25",
      (s, d) => graft.llm.Relevance.bm25(t(s, d, "documents"), "doc_id", "text",
          terms = Seq("spark", "window", "hash"))
        .orderBy("doc_id"),
      Some(graft.llm.Relevance.bm25OracleSql("documents", "doc_id", "text",
        terms = Seq("spark", "window", "hash")))),

    // ---- bigram-LM quality score (CCNet-style perplexity gate): model
    // trained on the doc_id%10=0 slice, the rest scored by negative mean
    // log-likelihood; per-(doc,gram) counts aggregate before the float
    // fold, so the oracle hash-matches at 4dp ----
    QueryDef("ts11_bigram_lm",
      (s, d) => {
        val docs = t(s, d, "documents")
        graft.llm.Relevance.bigramNll(
            docs.filter(col("doc_id") % 10 =!= 0),
            docs.filter(col("doc_id") % 10 === 0), "doc_id", "text")
          .orderBy("doc_id")
      },
      Some(graft.llm.Relevance.bigramNllOracleSql(
        "documents", "doc_id", "text", trainPred = "doc_id % 10 = 0"))),

    // ---- temperature-scaled source mixing (XLM-R α-sampling): rates from
    // one count aggregate, acceptance by md5 fraction — deterministic ----
    QueryDef("cur10_temperature_mix",
      (s, d) => TextAnalysis.temperatureMixture(t(s, d, "documents"), "doc_id", "source",
          alpha = 0.3)
        .select("doc_id", "source", "accept_rate").orderBy("doc_id"),
      Some("""WITH counts AS (
             |  SELECT source, count(*) AS n FROM documents GROUP BY source),
             |rates AS (
             |  SELECT source,
             |         pow((SELECT min(n) FROM counts)::DOUBLE / n, 1.0 - 0.3) AS accept_rate
             |  FROM counts)
             |SELECT doc_id, d.source, round(r.accept_rate, 6) AS accept_rate
             |FROM documents d JOIN rates r ON d.source = r.source
             |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT / 4294967296.0
             |      < r.accept_rate
             |ORDER BY doc_id""".stripMargin)),

    // ---- SemDeDup: semantic (embedding-space) dedup via k-means cells +
    // exact cosine verify. The registry entry runs the PORTABLE
    // deterministic quantizer (md5-seeded fixed-round Lloyd's — the
    // sim5b pattern), so cell seeding, every Lloyd's round, the
    // within-cell cosine verify and the larger-id drop ALL replay in
    // DuckDB and the query hash-checks end-to-end; the MLlib sampling-
    // init quantizer stays the production alternative
    // (Dedup.semanticDedup) with its LlmSpec precision/recall pins ----
    QueryDef("dd10_semantic_dedup",
      (s, d) => Dedup.semanticDedupPortable(t(s, d, "embeddings"), "vec_id", "embedding",
          threshold = 0.4, nCells = 16, rounds = 4)
        .select("vec_id").orderBy("vec_id"),
      Some(Dedup.semanticDedupPortableOracleSql(
        "SELECT vec_id::BIGINT AS pid, embedding::DOUBLE[] AS pv FROM embeddings",
        "vec_id", threshold = 0.4, nCells = 16, rounds = 4, dim = 64))),

    // ---- deterministic content-addressed sampling ----
    QueryDef("cur2_deterministic_sample",
      (s, d) => TextAnalysis.deterministicSample(t(s, d, "documents"), "doc_id",
          Seq("0", "1", "2", "3"))
        .select("doc_id").orderBy("doc_id"),
      Some("""SELECT doc_id FROM documents
             |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0','1','2','3')
             |ORDER BY doc_id""".stripMargin)),

    // ---- mixture sampling: per-source acceptance rates ----
    QueryDef("cur4_source_mixture",
      (s, d) => TextAnalysis.mixtureSample(t(s, d, "documents"), "doc_id", "source",
          Map("src0" -> 0.8, "src1" -> 0.5, "src2" -> 0.25), defaultWeight = 0.1)
        .select("doc_id", "source").orderBy("doc_id"),
      Some("""SELECT doc_id, source FROM documents
             |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT / 4294967296.0
             |      < (CASE source WHEN 'src0' THEN 0.8 WHEN 'src1' THEN 0.5
             |              WHEN 'src2' THEN 0.25 ELSE 0.1 END)
             |ORDER BY doc_id""".stripMargin)),

    // ---- corpus statistics per (source, lang) ----
    QueryDef("cur5_corpus_stats",
      (s, d) => TextAnalysis.corpusStats(t(s, d, "documents"), "text", Seq("source", "lang"))
        .orderBy("source", "lang"),
      Some("""SELECT source, lang, count(*) AS n_docs,
             |       sum(len(regexp_extract_all(text, '\w+|[^\w\s]')))::BIGINT AS total_tokens,
             |       sum(length(text))::BIGINT AS total_chars,
             |       round(avg(length(text)), 4) AS mean_chars
             |FROM documents GROUP BY source, lang ORDER BY source, lang""".stripMargin)),

    // ---- per-source document cap (domain capping): at most k survivors
    // per source by deterministic md5 priority; skew-safe salted top-k ----
    QueryDef("cur6_source_cap",
      (s, d) => TextAnalysis.capPerGroup(t(s, d, "documents"), "source", "doc_id", k = 10)
        .select("doc_id", "source", "cap_rank").orderBy("doc_id"),
      Some("""SELECT doc_id, source, cap_rank FROM (
             |  SELECT doc_id, source,
             |         row_number() OVER (PARTITION BY source
             |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS cap_rank
             |  FROM documents)
             |WHERE cap_rank <= 10 ORDER BY doc_id""".stripMargin)),

    // ---- largest-remainder (Hamilton) quota allocation: a 200-doc budget
    // split across sources exactly proportionally to corpus mass — floor
    // quotas + the leftover seats to the largest fractional remainders
    // (ties by source name); hits the budget EXACTLY where naive rounding
    // over/under-shoots, and every step is engine-replayable ----
    QueryDef("cur13_quota_allocation",
      (s, d) => graft.llm.Curation.quotaAllocate(
          t(s, d, "documents"), "doc_id", "source", col("n_chars"), budget = 200)
        .orderBy("source"),
      Some("""WITH w AS (SELECT source, sum(n_chars)::BIGINT AS w,
             |                 count(*)::BIGINT AS avail
             |          FROM documents GROUP BY 1),
             |tot AS (SELECT sum(w) AS tot FROM w),
             |frac AS (SELECT source, w, avail,
             |                200 * w / tot.tot AS exact,
             |                floor(200 * w / tot.tot)::BIGINT AS base
             |         FROM w, tot),
             |lv AS (SELECT 200 - sum(base) AS r FROM frac),
             |rk AS (SELECT *, row_number() OVER (ORDER BY exact - base DESC, source) AS rk
             |       FROM frac)
             |SELECT source, w, avail,
             |       (base + CASE WHEN rk <= lv.r THEN 1 ELSE 0 END)::BIGINT AS quota,
             |       least((base + CASE WHEN rk <= lv.r THEN 1 ELSE 0 END)::BIGINT,
             |             avail) AS picked
             |FROM rk, lv ORDER BY source""".stripMargin)),

    // ---- stratified train/val/test split: hash-cut md5 fraction, stable
    // under reshuffles and appends; per-source counts prove stratification ----
    QueryDef("cur7_split",
      (s, d) => TextAnalysis.stratifiedSplit(t(s, d, "documents"), "doc_id",
          valFrac = 0.1, testFrac = 0.1)
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
        .orderBy("source", "split"),
      Some("""SELECT source, split, count(*) AS n_docs, min(doc_id) AS first_doc
             |FROM (SELECT source, doc_id,
             |        CASE WHEN f < 0.1 THEN 'test'
             |             WHEN f < 0.2 THEN 'val'
             |             ELSE 'train' END AS split
             |      FROM (SELECT source, doc_id,
             |              ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
             |                / 4294967296.0 AS f
             |            FROM documents))
             |GROUP BY source, split ORDER BY source, split""".stripMargin)),

    // ---- token-budget packing via running sum ----
    QueryDef("cur3_token_packing",
      (s, d) => TextAnalysis.packByTokenBudget(t(s, d, "documents"), "doc_id", "text", budget = 256)
        .orderBy("doc_id"),
      Some("""SELECT doc_id, n_tokens, cum_tokens,
             |       ((cum_tokens - n_tokens) // 256)::BIGINT AS pack_id
             |FROM (SELECT doc_id, n_tokens,
             |        sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_tokens
             |      FROM (SELECT doc_id,
             |              len(regexp_extract_all(text, '\w+|[^\w\s]'))::INT AS n_tokens
             |            FROM documents))
             |ORDER BY doc_id""".stripMargin)),

    // ---- the composed LLM curation pipeline end-to-end, the production
    // shape every stage above exists FOR: exact dedup survivors (dd2) →
    // Gopher quality gate (ts16) → MinHash-LSH near-dup components, one
    // survivor per cluster (dd3c/dd6b) → benchmark decontamination
    // (dd7, word 8-grams) → token counting (ts3) → token-budget packing
    // (cur3) → deterministic stratified split (cur7). One hash-green
    // query: the DuckDB oracle replays the ENTIRE chain (gopher rules,
    // md5 groups, portable signatures + banding, recursive components,
    // gram overlap, running-sum pack, md5-fraction split), so stage
    // composition itself — lineage, checkpoints, column plumbing — is
    // what the hash checks (the oracle gates first, which gives the same
    // rows). Survivor frames are localCheckpoint'ed at the points
    // consumed by more than one downstream stage (the staged-table
    // pattern a production pipeline would persist anyway), so no shared
    // stage re-computes. ----
    QueryDef("e2e_llm_pipeline",
      (s, d) => {
        val docs = t(s, d, "documents")
        val train = docs.filter(col("doc_id") % 17 =!= 0)
          .select("doc_id", "source", "text")
        val bench = docs.filter(col("doc_id") % 17 === 0)
        // 1+2. exact dedup survivors, then the quality gate on them (the
        // same rows as the gate then dedup; see gatedSurvivors), spread
        // over the shuffle partitions and checkpointed: feeds the near-dup
        // candidate build, the component node list, and the survivor
        // join, and every later per-document stage runs on its partitions
        val exact = Dedup.gatedSurvivors(train, "doc_id", "text")
        // 3. near-dup clusters over the exact survivors — MinHash-LSH
        // with a TWO-STAGE verify, all three stages reading ONE portable
        // 32-hash word-3-gram sketch (the dd21 md5-28/LCG family, so
        // every stage replays in DuckDB):
        //   (a) LSH banding, 8 bands × 4 rows on raw slice equality
        //       (detection 1-(1-J⁴)⁸ ≈ 0.985 at the 0.8 threshold);
        //   (b) sketch prune: agreement >= 20/32, i.e. J >= 0.8 minus
        //       2.5σ — the banding false positives of this
        //       one-vocabulary corpus are ~99.9% of candidates (166k
        //       pairs / 99 real edges at sf0.1) and would otherwise
        //       chain everything into giant components AND dominate the
        //       query's cost;
        //   (c) exact word-3-gram Jaccard >= 0.8 on the survivors.
        // Then connected components, keep the component minimum.
        val sig = Dedup.estimateSigTable(exact, "doc_id", "text", n = 3)
        val cands = Dedup.bucketPairs(sig, Dedup.sigBands(8, 4))
        val agreeNeeded = 20 // ceil((0.8 - 2.5·sqrt(0.8·0.2/32)) · 32)
        val pruned = cands
          .join(sig.select(col("doc").as("id1"), col("sig").as("s1")), "id1")
          .join(sig.select(col("doc").as("id2"), col("sig").as("s2")), "id2")
          .filter(graft.functions.AgreeCount(col("s1"), col("s2")) >= agreeNeeded)
          .select("id1", "id2")
        val edges = Dedup.ngramJaccard(exact, "doc_id", "text", 3, pruned,
            hashGrams = false)
          .filter(col("jaccard") >= 0.8).select("id1", "id2")
        // Survivor test as a row-local filter over the EDGE-sized component
        // map (dd6b's shape) — NOT a corpus×corpus semi-join on a survivor
        // id list: the map holds only docs in >=1 near-dup pair (dup-rate
        // bounded), and at 100 TB the same join is a dup-bounded shuffle,
        // never a corpus-wide sort. The edges fit the broadcast budget at
        // every tested scale, so the components finish on the driver (a
        // union-find over the collected edges, no star rounds) and the map
        // arrives as a local relation that the join broadcasts; above the
        // budget the rounds run and AQE picks the join by runtime size.
        val comp = Dedup.connectedComponents(edges).withColumnRenamed("id", "doc_id")
        val nearSurv = exact.join(comp, Seq("doc_id"), "left")
          .filter(coalesce(col("component"), col("doc_id")) === col("doc_id"))
          .select("doc_id", "source", "text")
        // 4. decontaminate against the held-out benchmark slice. The
        // contaminated id list is bounded by CORPUS docs sharing an
        // 8-gram with the benchmark — NOT by benchmark size: one
        // boilerplate benchmark gram can contaminate a corpus-scale
        // fraction, so a forced broadcast here could blow up the driver
        // at 100 TB (ADVICE r13). No hint: the id list ends in a
        // distinct() exchange, so AQE sees its RUNTIME size and picks
        // BHJ when it is small (it is, at every tested scale — plan
        // pinned in PLANS.md) and a shuffle join when it is not.
        // Checkpointed: the packing stage scans its input twice (rows +
        // per-shard totals) and the split reads the packed rows again.
        val clean = nearSurv.join(
            Dedup.contaminatedIds(nearSurv, "doc_id", "text",
              bench, "text", n = 8, hashGrams = false),
            Seq("doc_id"), "left_anti")
          .ckpt()
        // 5+6. token count + budget packing (source kept for the split)
        val packed = TextAnalysis.packByTokenBudget(clean, "doc_id", "text",
          budget = 256, keep = Seq("source"))
        // 7. deterministic stratified split
        TextAnalysis.stratifiedSplit(packed, "doc_id", valFrac = 0.1, testFrac = 0.1)
          .select("doc_id", "source", "split", "n_tokens", "cum_tokens", "pack_id")
          .orderBy("doc_id")
      },
      Some(llmPipelineOracleSql)),

    // ---- as-of join: each click matched to the user's latest prior view.
    // Oracle: DuckDB's native ASOF JOIN — two independent implementations
    // of the backward-match semantics. ----
    QueryDef("ao1_asof_join",
      (s, d) => {
        val ev = Tables.events(s, d)
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts"), col("event_id"), col("value"))
        val views = ev.filter(col("event_type") === "view")
          .select(col("user_id"), col("ts"), col("value").as("view_value"))
        graft.operators.AsOf.joinBackward(clicks, views, "user_id", "ts",
            Seq("event_id", "value"), Seq("view_value"))
          .orderBy("user_id", "ts", "event_id")
      },
      Some("""SELECT c.user_id, c.ts::TIMESTAMP AS ts, c.event_id, c.value,
             |       v.ts::TIMESTAMP AS r_ts, v.value AS r_view_value
             |FROM (SELECT * FROM events WHERE event_type = 'click') c
             |ASOF JOIN (SELECT * FROM events WHERE event_type = 'view') v
             |  ON c.user_id = v.user_id AND c.ts >= v.ts
             |ORDER BY c.user_id, c.ts, c.event_id""".stripMargin)),

    // ---- range join: event values inside part price bands, bucketized
    // equi-join instead of a nested-loop BETWEEN. The band table is a
    // FIXED-size dim (p_partkey < 20000 caps it at sf0.1's 400 bands —
    // price bands are reference data, they don't grow with the fact
    // stream): inactive at every driver SF, and it pins the growth sweep
    // to measure the ENGINE (linear points × constant bands) instead of
    // a harness-side quadratic (VERDICT r14 item 4). ----
    QueryDef("rj1_range_join",
      (s, d) => {
        val points = Tables.events(s, d).filter(col("event_type") === "purchase")
          .select(col("event_id"), col("value"))
        val bands = Tables.table(s, d, "part")
          .filter(col("p_partkey") % 50 === 0 && col("p_partkey") < 20000)
          .select(col("p_partkey"),
            (col("p_retailprice") / 100 - 1).as("lo"), (col("p_retailprice") / 100 + 1).as("hi"))
        graft.operators.RangeJoin.joinContains(points, bands, "value", "lo", "hi", binWidth = 2.0)
          .select("event_id", "p_partkey", "value")
          .orderBy("event_id", "p_partkey")
      },
      Some("""SELECT event_id, p_partkey, value
             |FROM (SELECT event_id, value FROM events WHERE event_type = 'purchase') e
             |JOIN (SELECT p_partkey, p_retailprice / 100 - 1 AS lo, p_retailprice / 100 + 1 AS hi
             |      FROM part WHERE p_partkey % 50 = 0 AND p_partkey < 20000) p
             |  ON e.value >= p.lo AND e.value <= p.hi
             |ORDER BY event_id, p_partkey""".stripMargin)),

    // ---- geo1: grid-bucketed spatial proximity join (the scale path for
    // the reference's haversine tier, locUtils.js:2-16): all point pairs
    // within 40 km via lat/lon cell bucketing + 3×3 probe + exact
    // haversine verify — Σ cell² candidates, never n²; oracle = the
    // brute-force n² distance filter over the same synthesized coords ----
    QueryDef("geo1_proximity_join",
      (s, d) =>
        // coords shared with geo2 via [[geoPts]]/[[geoCandsSql]]; see
        // those for the anti-meridian seam + double-literal notes
        graft.operators.GeoJoin.withinDistance(
            geoPts(s, d), "c_custkey", "lat", "lon", 40.0)
          .orderBy("id1", "id2"),
      Some(geoCandsSql + "\nORDER BY id1, id2")),

    // ---- geo2: output-bounded geo evidence (the dd3e/dd4c/sim4c posture
    // lifted to the spatial tier): per point, its in-radius partner count
    // plus the k = 3 NEAREST partners by (4dp-rounded km, partner) — one
    // row per (point, rank), ≤ k·n output no matter how dense the radius
    // ball. geo1's full listing is output-bound BY CONTRACT (a fixed
    // 40 km box densifies quadratically as points pour in: 100.6× output
    // on 10× data in the r14 sweep) — this is the form a 100 TB caller
    // runs instead. Same Σ cell² grid candidates; the bound is the
    // bounded-heap aggregate BEFORE any global sort, and ranking on the
    // ROUNDED km (already hash-proven cross-engine by geo1) keeps the
    // heap order libm-independent. ----
    QueryDef("geo2_knn_within_radius",
      (s, d) => {
        val pairs = graft.operators.GeoJoin.withinDistance(
          geoPts(s, d), "c_custkey", "lat", "lon", 40.0)
        Dedup.pairTopKPerDoc(pairs, "id1", "id2", ord = col("km"), k = 3)
          .select(col("doc").as("c_custkey"), col("n_candidates"),
            col("rank"), col("partner"), col("ord").as("km"))
          .orderBy("c_custkey", "rank")
      },
      Some(Dedup.pairTopKPerDocOracleSql(
        geoCandsSql, docAlias = "c_custkey", orderSql = "km", k = 3,
        extraCols = Seq("km"), extraSelect = ", km"))),

    // ---- ov1: interval-OVERLAP join (interval×interval, binned to an
    // equi-join + residual filter — never a nested loop): each order's
    // fulfillment window [orderdate, orderdate + orderkey%14 days]
    // against the calendar months it touches ----
    QueryDef("ov1_overlap_join",
      (s, d) => {
        val epoch = to_date(lit("1970-01-01"))
        val od = to_date(col("o_orderdate"))
        val left = Tables.table(s, d, "orders").select(
          col("o_orderkey"),
          datediff(od, epoch).as("l_lo"),
          (datediff(od, epoch) + col("o_orderkey") % 14).as("l_hi"))
        val right = Tables.table(s, d, "orders")
          .select(trunc(to_date(col("o_orderdate")), "month").as("month")).distinct()
          .select(col("month"),
            datediff(col("month"), epoch).as("m_lo"),
            (datediff(add_months(col("month"), 1), epoch) - 1).as("m_hi"))
        graft.operators.IntervalJoin.joinOverlap(
            left, right, "l_lo", "l_hi", "m_lo", "m_hi", binWidth = 16.0)
          .select("o_orderkey", "month")
          .orderBy("o_orderkey", "month")
      },
      Some("""WITH l AS (SELECT o_orderkey,
             |    (o_orderdate::DATE - DATE '1970-01-01') AS l_lo,
             |    (o_orderdate::DATE - DATE '1970-01-01') + o_orderkey % 14 AS l_hi
             |  FROM orders),
             |m AS (SELECT DISTINCT date_trunc('month', o_orderdate)::DATE AS month
             |      FROM orders),
             |r AS (SELECT month, (month - DATE '1970-01-01') AS m_lo,
             |        ((month + INTERVAL 1 MONTH)::DATE - DATE '1970-01-01') - 1 AS m_hi
             |      FROM m)
             |SELECT l.o_orderkey, r.month
             |FROM l JOIN r ON l.l_lo <= r.m_hi AND r.m_lo <= l.l_hi
             |ORDER BY o_orderkey, month""".stripMargin)),

    // ---- ov2: max concurrent intervals per group (sweep line — one
    // window pass, no pair materialization): peak simultaneous open
    // order windows per customer ----
    QueryDef("ov2_interval_concurrency",
      (s, d) => {
        val epoch = to_date(lit("1970-01-01"))
        val lo = datediff(to_date(col("o_orderdate")), epoch)
        val intervals = Tables.table(s, d, "orders")
          .select(col("o_custkey"), lo.as("lo"), (lo + 7).as("hi"))
        graft.operators.IntervalJoin.concurrency(intervals, "o_custkey", "lo", "hi")
          .orderBy("o_custkey")
      },
      Some("""WITH i AS (SELECT o_custkey,
             |    (o_orderdate::DATE - DATE '1970-01-01') AS lo FROM orders),
             |e AS (SELECT o_custkey, lo AS pos, 1 AS delta FROM i
             |      UNION ALL SELECT o_custkey, lo + 7 + 1, -1 FROM i),
             |c AS (SELECT o_custkey, sum(delta) OVER (
             |        PARTITION BY o_custkey ORDER BY pos, delta
             |        ROWS UNBOUNDED PRECEDING) AS open
             |      FROM e)
             |SELECT o_custkey, max(open)::INT AS max_concurrent
             |FROM c GROUP BY 1 ORDER BY o_custkey""".stripMargin)),

    // ---- streaming tier, batch-equivalent form: 1-day tumbling windows ----
    QueryDef("st1_daily_counts",
      (s, d) => EventStreams.dailyCounts(Tables.events(s, d))
        .orderBy("day", "event_type"),
      Some("""SELECT date_trunc('day', ts)::TIMESTAMP AS day, event_type,
             |       count(*) AS cnt, round(sum(value), 2) AS sum_value
             |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin)),

    // ---- sliding windows (2d size / 1d slide): every event lands in two
    // overlapping windows; the oracle replays the window assignment with a
    // 0/1-day shift fan-out ----
    QueryDef("st2_sliding_counts",
      (s, d) => EventStreams.slidingCounts(Tables.events(s, d))
        .orderBy("w_start", "event_type"),
      Some("""SELECT date_trunc('day', ts)::TIMESTAMP - o * INTERVAL 1 DAY AS w_start,
             |       event_type, count(*) AS cnt
             |FROM events CROSS JOIN (SELECT unnest([0, 1]) AS o)
             |GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin)),

    // ---- session windows (6h gap): per-user activity bursts; the oracle
    // is the classic gaps-and-islands rewrite ----
    // ---- st10: streaming heavy hitters — the space-saving sketch
    // (Metwally 2005) as flatMapGroupsWithState keyed by TERM BUCKET
    // (state O(buckets×capacity) for any stream length); capacity ≥
    // bucket vocabulary ⇒ counters exact, so the BATCH execution of the
    // same stateful code path is oracle-green vs plain word counts
    // (ts14b's trick lifted to the streaming engine); stream ≡ batch
    // across micro-batches pinned in TopKStreamSpec ----
    QueryDef("st10_streaming_topk",
      (s, d) => {
        val c = graft.streaming.TopKStream.counts(s, t(s, d, "documents"))
          .toDF().ckpt()
        // exactness precondition CHECKED, not assumed: the oracle equality
        // below is only meaningful while capacity ≥ every bucket's
        // vocabulary (zero evictions ⇒ counters exact). Once a larger
        // corpus crosses that, this fails loudly as "sketch mode" instead
        // of a hash mismatch indistinguishable from a real bug. 1-row
        // scalar read of the checkpointed (bucket-bounded) counts table.
        val ev = c.agg(coalesce(max("evictions"), lit(0L))).head().getLong(0)
        require(ev == 0L, s"space-saving evicted $ev times — counts are " +
          "over-estimates (sketch mode); raise capacity/buckets for an exact gate")
        c.select(col("term"), col("cnt"))
          .orderBy(desc("cnt"), asc("term")).limit(20)
      },
      Some("""SELECT term, count(*) AS cnt
             |FROM (SELECT unnest(string_split_regex(lower(text), '\s+')) AS term
             |      FROM documents)
             |WHERE term <> ''
             |GROUP BY term ORDER BY cnt DESC, term LIMIT 20""".stripMargin)),

    QueryDef("st3_session_windows",
      (s, d) => EventStreams.sessionCounts(Tables.events(s, d))
        .orderBy("user_id", "session_start"),
      Some("""WITH flagged AS (
             |  SELECT user_id, ts, value,
             |         CASE WHEN lag(ts) OVER w IS NULL
             |                OR ts - lag(ts) OVER w > INTERVAL 6 HOUR
             |              THEN 1 ELSE 0 END AS new_s
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
             |sess AS (
             |  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
             |                             ROWS UNBOUNDED PRECEDING) AS sid
             |  FROM flagged)
             |SELECT user_id, min(ts)::TIMESTAMP AS session_start,
             |       (max(ts) + INTERVAL 6 HOUR)::TIMESTAMP AS session_end,
             |       count(*) AS cnt, round(sum(value), 2) AS sum_value
             |FROM sess GROUP BY user_id, sid
             |ORDER BY user_id, session_start""".stripMargin)),

    // ---- streaming near-dup flagging, batch-equivalent form: (doc,
    // min earlier doc colliding in any portable-LSH band bucket with
    // signature-estimate >= 0.5). Stream ≡ batch pinned in
    // StreamDedupSpec; 1-in-5 proof slice keeps the md5 algebra cheap ----
    // ---- stream-static dim enrichment, batch-equivalent form: events
    // broadcast-joined to the customer dim (stream≡batch in
    // EventStreamsSpec — the static side is re-planned per micro-batch) ----
    QueryDef("st5_stream_enrich",
      (s, d) => EventStreams.enriched(
          Tables.events(s, d).select("event_id", "ts", "user_id", "event_type", "value"),
          Tables.table(s, d, "customer"), "user_id", "c_custkey",
          Seq("c_name", "c_mktsegment"))
        .select("event_id", "user_id", "event_type", "c_name", "c_mktsegment")
        .orderBy("event_id"),
      Some("""SELECT event_id, user_id, event_type, c_name, c_mktsegment
             |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
             |ORDER BY event_id""".stripMargin)),

    // ---- stream-stream interval join (clicks ⋈ same-user views in the
    // preceding day): both sides buffer watermark-bounded state; the batch
    // twin runs the identical code path (EventStreamsSpec proves
    // stream≡batch over memory streams) ----
    QueryDef("st6_stream_stream_join",
      (s, d) => {
        val ev = Tables.events(s, d)
        EventStreams.clickViewJoin(
            ev.filter(col("event_type") === "click"),
            ev.filter(col("event_type") === "view"))
          .select("user_id", "click_ts", "event_id", "value", "view_ts", "view_value")
          .orderBy("user_id", "click_ts", "event_id", "view_ts")
      },
      Some("""SELECT c.user_id, c.ts::TIMESTAMP AS click_ts, c.event_id, c.value,
             |       v.ts::TIMESTAMP AS view_ts, v.value AS view_value
             |FROM events c JOIN events v
             |  ON c.event_type = 'click' AND v.event_type = 'view'
             | AND c.user_id = v.user_id
             | AND v.ts BETWEEN c.ts - INTERVAL 1 DAY AND c.ts
             |ORDER BY c.user_id, click_ts, c.event_id, view_ts""".stripMargin)),

    QueryDef("st4_streaming_neardup",
      (s, d) => graft.streaming.StreamDedup.flaggedBatch(
          t(s, d, "documents").filter(col("doc_id") % 5 === 0))
        .orderBy("doc"),
      Some {
        val inner = graft.streaming.StreamDedup.flaggedBatchOracleSql(
          "docs5", "doc_id", "text")
        s"""WITH docs5 AS (SELECT * FROM documents WHERE doc_id % 5 = 0),
           |q AS ($inner)
           |SELECT * FROM q ORDER BY doc""".stripMargin
      }),

    // ---- st11: streaming containment-estimate ingest gate — the
    // estimate tier (dd21/dd22) in st4's online shape: capped
    // (band, min-value) bucket state, J*-margin sketch flags naming the
    // min earlier occupant, exact verify deliberately downstream. The
    // registry entry runs the batch twin (the stream ≡ batch equivalence
    // across micro-batches is pinned in StreamContainmentSpec, st4's
    // pattern); the oracle replays grams → md5-28 → LCG minhash →
    // capped buckets → sketch margin → min partner entirely in SQL. ----
    QueryDef("st11_stream_containment",
      (s, d) => graft.streaming.StreamContainment.flaggedBatch(
          t(s, d, "documents").filter(col("doc_id") % 5 === 0))
        .orderBy("doc"),
      Some {
        val inner = graft.streaming.StreamContainment.flaggedBatchOracleSql(
          "docs5", "doc_id", "text")
        s"""WITH docs5 AS (SELECT * FROM documents WHERE doc_id % 5 = 0),
           |q AS ($inner)
           |SELECT * FROM q ORDER BY doc""".stripMargin
      }),

    // ---- st12: the composed ONLINE ingest gate — gopher quality →
    // exact-dup gate → near-dup gate as ONE streaming query with two
    // chained stateful operators (dropDuplicates + fMGWS). The registry
    // entry runs the batch twin (stream ≡ batch across id-ordered
    // micro-batches is pinned in IngestGateSpec); the oracle replays
    // the whole admission chain: the shared gopher CTE block, min-id
    // per content hash, the portable 8-hash band flags, anti-join,
    // token count. ----
    QueryDef("st12_stream_gate",
      (s, d) => graft.streaming.IngestGate.admittedBatch(
          t(s, d, "documents").filter(col("doc_id") % 5 === 0))
        .orderBy("doc_id"),
      Some {
        val flags = graft.streaming.StreamDedup.flaggedBatchOracleSql(
          "exact2", "doc_id", "text")
        s"""WITH docs5 AS (SELECT doc_id, source, text FROM documents
           |               WHERE doc_id % 5 = 0),
           |${gopherQualityCtesSql("docs5")},
           |exact2 AS (
           |  SELECT doc_id, text FROM quality
           |  WHERE doc_id IN (SELECT min(doc_id) FROM quality GROUP BY md5(text))),
           |flags AS ($flags)
           |SELECT doc_id,
           |       len(regexp_extract_all(text, '\\w+|[^\\w\\s]'))::INT AS n_tokens
           |FROM exact2
           |WHERE doc_id NOT IN (SELECT doc FROM flags)
           |ORDER BY doc_id""".stripMargin
      })
  )
}
