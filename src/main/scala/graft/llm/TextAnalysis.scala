package graft.llm

import graft.Ckpt._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline: language ID,
  * quality scoring, token counting, fingerprinting. All pure Column
  * combinators (generalizing the reference's F1/F11 string pipelines) —
  * no per-row UDFs, so everything stays in whole-stage codegen and the
  * operators cost one scan at any scale.
  */
object TextAnalysis {

  /** Stopword tables for the n-gram/stopword language heuristic. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "that", "it", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "zu"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une", "pour", "dans", "que", "des"),
    "es" -> Seq("el", "la", "los", "y", "es", "una", "para", "en", "que", "por"),
    "zh" -> Seq("的", "是", "在", "了", "和", "有", "我", "不", "这", "人"))

  def tokens(text: Column): Column = split(lower(text), "\\s+")

  /** Language ID: score = stopword hits per language; argmax, ties and
    * zero-score → "unknown". One pass, array ops only.
    *
    * Every stage is LET-BOUND through a one-element transform (the
    * wordGrams pattern): the token split, the per-language score array,
    * and the argmax are lambda variables, each evaluated ONCE per row.
    * Referencing them as plain sub-expressions re-evaluates the whole
    * chain per reference — the tie check + the two `when` references
    * re-ran the split and all four intersects several times per document
    * (higher-order filters are CodegenFallback, so codegen's
    * common-subexpression elimination never rescues them). */
  def langId(text: Column): Column =
    // fused kernel (functions/LangIdExpr.scala, r16): the let-bound
    // Column chain below remains the readable reference — one
    // interpreted higher-order expression per row that re-hashed every
    // token against every language's literal array; the kernel does one
    // token → language-bitmask lookup per token. TextAnalysisSpec pins
    // kernel ≡ reference; the per-language list_intersect oracle SQL is
    // unchanged.
    graft.functions.LangIdExpr(text, stopwords.toSeq.sortBy(_._1))

  /** The pre-r16 Column-chain language ID — the reference implementation
    * of [[graft.functions.LangIdExpr]], spec-pinned equal. */
  private[graft] def langIdReference(text: Column): Column = {
    def let1(c: Column)(body: Column => Column): Column =
      element_at(transform(array(c), body), 1)
    let1(tokens(text)) { toks =>
      let1(array(stopwords.toSeq.sortBy(_._1).map { case (lang, words) =>
        struct(
          size(array_intersect(toks, array(words.map(lit): _*))).as("score"),
          lit(lang).as("lang"))
      }: _*)) { scored =>
        let1(array_max(scored)) { best =>
          // a tie at the max score is genuinely ambiguous evidence → unknown
          val nAtMax =
            size(filter(scored, s => s.getField("score") === best.getField("score")))
          when(best.getField("score") > 0 && nAtMax === 1, best.getField("lang"))
            .otherwise(lit("unknown"))
        }
      }
    }
  }

  /** Whitespace-delimited word count without materializing the token
    * array: the number of maximal non-whitespace runs. The whitespace
    * class is EXPLICIT ([ \t\n\r\f], the RE2-portable subset — Java \s
    * adds \x0B) and run-based counting handles newlines and repeated
    * separators, where the old spaces+1 arithmetic scored a 50-line
    * document as ONE word and let the quality gate miscull it. */
  def wordCount(text: Column): Column =
    regexp_count(text, lit("[^ \t\n\r\f]+"))

  /** BPE-ish token estimate: count of `\w+|[^\w\s]` matches (words and
    * isolated punctuation), the standard pre-tokenizer shape. */
  def tokenEstimate(text: Column): Column = regexp_count(text, lit("""\w+|[^\w\s]"""))

  /** Flesch reading-ease + Flesch-Kincaid grade level — the classic
    * readability pair, a standard cheap quality/complexity signal next to
    * the Gopher gates. Syllables use the vowel-group heuristic (number of
    * maximal [aeiouy]+ runs — the textbook approximation); vowel runs
    * never span word boundaries, so one whole-text regexp count equals
    * the per-word sum without tokenizing. Words are maximal alphabetic
    * runs, sentences maximal [.!?]+ runs (min 1). Three regexp counts per
    * row inside codegen — no arrays, no UDF — and each replays exactly in
    * DuckDB as len(regexp_extract_all(...)). Documents with no
    * alphabetic word yield NULL scores. */
  def readability(df: DataFrame, id: String, text: String): DataFrame = {
    val t = lower(col(text))
    val words = regexp_count(t, lit("[a-z]+"))
    val sentences = greatest(regexp_count(t, lit("[.!?]+")), lit(1))
    val syllables = regexp_count(t, lit("[aeiouy]+"))
    // round() half-ties diverge across engines (Spark rounds the DECIMAL
    // expansion via BigDecimal HALF_UP, DuckDB rounds the double) — at
    // sf0.1 five docs landed exactly on a 4dp half boundary. floor(x·10⁴
    // + 0.5)/10⁴ is pure double arithmetic, so both engines execute the
    // IDENTICAL operations on the identical double and cannot disagree.
    def r4(c: Column): Column = floor(c * 10000 + 0.5) / 10000.0
    df.select(col(id), words.cast("long").as("words"),
        sentences.cast("long").as("sentences"),
        syllables.cast("long").as("syllables"))
      .withColumn("flesch",
        r4(when(col("words") > 0,
          lit(206.835)
            - lit(1.015) * col("words") / col("sentences")
            - lit(84.6) * col("syllables") / col("words"))))
      .withColumn("fk_grade",
        r4(when(col("words") > 0,
          lit(0.39) * col("words") / col("sentences")
            + lit(11.8) * col("syllables") / col("words") - lit(15.59))))
  }

  /** Quality scoring: length, word stats, punctuation/digit/space ratios,
    * and a composite [0,1] score (longer docs with normal word length and
    * low symbol noise score higher). */
  def qualityFeatures(df: DataFrame, text: String): DataFrame = {
    val t = col(text)
    val nChars = length(t)
    val nWords = wordCount(t)
    // mean word length = non-whitespace chars / words (the previous
    // nChars − separators form assumed exactly one space between words).
    // Counts are regexp_count of single-char classes — the same integers
    // the old regexp_replace+length form produced, without allocating a
    // rewritten copy of the text per class per row (3 full-text string
    // builds on the curation hot path)
    val nonWs = nChars - regexp_count(t, lit("[ \t\n\r\f]"))
    val punct = regexp_count(t, lit("""[^\w\s]"""))
    val digits = regexp_count(t, lit("[0-9]"))
    df.withColumn("n_chars_calc", nChars)
      .withColumn("n_words", nWords)
      // ratios read the materialized n_words attribute, not a second
      // copy of the regexp_count expression (the gopherRules lesson)
      .withColumn("mean_word_len", nonWs.cast("double") / col("n_words"))
      .withColumn("punct_ratio", punct.cast("double") / nChars)
      .withColumn("digit_ratio", digits.cast("double") / nChars)
      .withColumn("quality_score",
        round(greatest(lit(0.0), least(lit(1.0),
          lit(1.0)
            - abs(col("mean_word_len") - 5.0) / 10.0
            - col("punct_ratio")
            - col("digit_ratio"))), 6))
  }

  /** Gopher-style rule-based quality gate (Rae et al. 2021, "Scaling
    * Language Models", table A1): the standard battery of cheap document
    * heuristics used before any model-based scoring — word-count bounds,
    * mean word length in [3,10], symbol-to-word ratio (# / ellipsis),
    * bullet- and ellipsis-line fractions, fraction of words containing an
    * alphabetic character, and a minimum stop-word count. Emits each rule
    * as its own boolean plus the conjunction, so downstream curation can
    * report per-rule rejection rates (the usual ablation table) instead of
    * a single opaque pass bit. Pure Column arithmetic over one scan — no
    * UDF, no array materialization beyond the per-row token split — and
    * every rule replays exactly in the DuckDB oracle.
    *
    * Tokenization uses an EXPLICIT whitespace class (Java \s includes
    * \x0B, RE2's does not — see normalizeForDedup); the stop-word rule
    * counts DISTINCT stop words present (table A1's "contain at least 2
    * of" reads over the word list, not occurrences); and EVERY rule tests
    * the rounded column the operator emits, so an engine replaying the
    * rules from the output can never disagree at a float boundary. */
  def gopherRules(df: DataFrame, text: String,
                  minWords: Int = 50, maxWords: Int = 100000): DataFrame = {
    val t = col(text)
    val words = filter(split(trim(t), """[ \t\n\r\f]+"""), w => length(w) > 0)
    val lines = split(t, "\n")
    // ONE pass per row (the dd14 lesson systematized): every words- and
    // lines-derived count folds into a struct inside a let-bound
    // one-element transform, so the regex splits run once per row — the
    // previous per-rule expressions each inlined their own copy of the
    // split+filter chain (~8 evaluations per row). The struct columns
    // are materialized in one projection and unpacked in the next:
    // CollapseProject never inlines a multi-referenced non-cheap
    // producer (SPARK-36718), so the barrier holds. The per-rule
    // algebra below is textually unchanged — same ops, same order,
    // same rounding — so results are bit-identical.
    val wstats = element_at(transform(array(words), w => struct(
      size(w).as("nw"),
      aggregate(w, lit(0L), (acc, x) => acc + length(x)).as("swl"),
      size(filter(w, x => x.rlike("[A-Za-z]"))).as("aw"),
      size(array_distinct(filter(transform(w, x => lower(x)),
        x => x.isInCollection(Seq("the", "be", "to", "of", "and", "a", "in", "that")))))
        .as("sh"))), 1)
    val lstats = element_at(transform(array(lines), ls => struct(
      size(ls).as("nl"),
      size(filter(ls, l => ltrim(l).rlike("^[-*•]"))).as("bl"),
      size(filter(ls, l => rtrim(l).endsWith("..."))).as("el"))), 1)
    val hashes = length(t) - length(regexp_replace(t, "#", ""))
    val ellipses = (length(t) - length(regexp_replace(t, """\.\.\.""", ""))) / 3
    // staging-column names are derived collision-free from the input's
    // own columns (an input that already carries __gw/__gl would
    // otherwise be silently overwritten and dropped from the output)
    val taken = df.columns.toSet
    def fresh(base: String): String =
      Iterator.iterate(base)(_ + "_").dropWhile(taken.contains).next()
    val gw = fresh("__gw"); val gl = fresh("__gl")
    val nWords = col(s"$gw.nw")
    val meanWl = col(s"$gw.swl").cast("double") / nWords
    val alphaFrac = col(s"$gw.aw").cast("double") / nWords
    val stopHits = col(s"$gw.sh")
    val symbolRatio = (hashes + ellipses).cast("double") / nWords
    val nLines = col(s"$gl.nl")
    val bulletFrac = col(s"$gl.bl").cast("double") / nLines
    val ellLineFrac = col(s"$gl.el").cast("double") / nLines
    df.withColumn(gw, wstats)
      .withColumn(gl, lstats)
      .withColumn("n_words", nWords)
      .withColumn("mean_wl", round(meanWl, 6))
      .withColumn("alpha_frac", round(alphaFrac, 6))
      .withColumn("stop_hits", stopHits)
      .withColumn("symbol_ratio", round(symbolRatio, 6))
      .withColumn("bullet_frac", round(bulletFrac, 6))
      .withColumn("ell_frac", round(ellLineFrac, 6))
      .withColumn("r_words", nWords.between(minWords, maxWords))
      .withColumn("r_mean_wl", col("mean_wl").between(3.0, 10.0))
      .withColumn("r_symbol", col("symbol_ratio") <= 0.1)
      .withColumn("r_bullet", col("bullet_frac") <= 0.9)
      .withColumn("r_ellipsis", col("ell_frac") <= 0.3)
      .withColumn("r_alpha", col("alpha_frac") >= 0.8)
      .withColumn("r_stop", stopHits >= 2)
      .drop(gw, gl)
      .withColumn("gopher_pass",
        col("r_words") && col("r_mean_wl") && col("r_symbol") && col("r_bullet") &&
          col("r_ellipsis") && col("r_alpha") && col("r_stop"))
  }

  /** Document fingerprint: md5 of whitespace-normalized lowercase text
    * (the exact-dup key). */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(text), """\s+""", " "))

  /** Gopher-style repetition signals (Rae et al. 2021 §A1.1: docs whose
    * duplicate n-gram fraction is high are boilerplate/spam): fraction of
    * word n-grams that are repeats of an earlier occurrence, and the
    * fraction of words covered by the single most frequent word. Oracle-
    * reproducible with DuckDB list comprehensions.
    *
    * The default path is the fused RepetitionStats kernel (one JVM pass
    * per doc); `fused = false` keeps the pure Column composition —
    * higher-order functions evaluate interpreted (CodegenFallback), ~20x
    * slower, retained as the semantic reference the kernel is spec-pinned
    * against. */
  def repetitionFeatures(df: DataFrame, text: String, n: Int = 3,
                         fused: Boolean = true): DataFrame = {
    if (fused) {
      val rs = graft.functions.RepetitionStats(col(text), n)
      df.withColumn("__rs", rs)
        .withColumn("n_grams", col("__rs.n_grams"))
        .withColumn("dup_gram_ratio", round(col("__rs.dup_gram_ratio"), 6))
        .withColumn("top_word_ratio", round(col("__rs.top_word_ratio"), 6))
        .drop("__rs")
    } else composed(df, text, n)
  }

  private def composed(df: DataFrame, text: String, n: Int): DataFrame = {
    val toks = split(lower(col(text)), "\\s+")
    // token array let-bound through a one-element transform so the regex
    // split runs once per row, not once per gram (see Dedup.contaminatedIds)
    val grams = element_at(transform(array(toks), tk =>
      transform(
        sequence(lit(1), greatest(size(tk) - (n - 1), lit(1))),
        i => concat_ws(" ", slice(tk, i, lit(n))))), 1)
    // top word count = longest equal-run in the sorted token array:
    // O(len log len) per doc vs the naive distinct x len scan (measured
    // ~10s over sf0.1 documents; this form is ~1s)
    val topTokCount = aggregate(
      array_sort(toks),
      struct(lit("").as("prev"), lit(0).as("run"), lit(0).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"), acc.getField("run") + 1).otherwise(1)
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
    df.withColumn("n_grams", size(grams))
      .withColumn("dup_gram_ratio",
        round((size(grams) - size(array_distinct(grams))).cast("double") /
          size(grams), 6))
      .withColumn("top_word_ratio",
        round(topTokCount.cast("double") / size(toks), 6))
  }

  /** Lexical-diversity signals: type-token ratio and unigram entropy —
    * the declarative cousins of perplexity filtering (low-entropy or
    * low-TTR text is boilerplate/keyword-stuffing; CCNet/Gopher gate on
    * LM perplexity, whose cheap first-order proxy is the doc's own token
    * distribution). One explode + two hash aggregations; entropy folds as
    * ln(n) − Σ c·ln(c) / n so only per-(doc, token) counts shuffle. */
  def lexicalDiversity(df: DataFrame, id: String, text: String): DataFrame = {
    val counts = df
      .select(col(id), explode(split(lower(col(text)), "\\s+")).as("tok"))
      .groupBy(col(id), col("tok")).agg(count(lit(1)).as("c"))
    counts.groupBy(col(id))
      .agg(
        sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(col("c").cast("double") * log(col("c").cast("double"))).as("__clnc"))
      .select(col(id), col("n_tokens"), col("n_types"),
        round(col("n_types").cast("double") / col("n_tokens"), 6).as("ttr"),
        round(log(col("n_tokens").cast("double")) - col("__clnc") / col("n_tokens"), 4)
          .as("entropy"))
  }

  /** Per-group document cap (domain capping): keep at most `k` docs per
    * group, chosen by a deterministic content-addressed priority (md5 of
    * the id, ties broken by the id) — a uniform-but-reproducible sample,
    * identical on any engine.
    *
    * Exact two-level top-k so one hot group can't serialize: rows are
    * salted into `nSalts` sub-groups, each keeps its local top-k (bounded
    * window sort over group×salt partitions), and the exact cap runs over
    * the ≤ nSalts·k survivors per group. Global top-k is a subset of the
    * union of per-salt top-k, so the result equals the single-window form
    * while the second window's partitions are bounded regardless of group
    * skew. */
  def capPerGroup(df: DataFrame, group: String, id: String, k: Int,
                  nSalts: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val prio = md5(col(id).cast("string"))
    val w1 = Window.partitionBy(col(group), pmod(xxhash64(col(id)), lit(nSalts)))
      .orderBy(prio, col(id))
    val w2 = Window.partitionBy(col(group)).orderBy(prio, col(id))
    df.withColumn("__rn1", row_number().over(w1)).filter(col("__rn1") <= k)
      .withColumn("cap_rank", row_number().over(w2)).filter(col("cap_rank") <= k)
      .drop("__rn1")
  }

  /** Fixed-size character chunking with overlap — the pre-tokenization
    * split of a long-document corpus. A generator (sequence + explode):
    * one pass, output rows = ceil(len/stride) per doc, no driver state. */
  def chunk(df: DataFrame, id: String, text: String,
            size: Int, overlap: Int): DataFrame = {
    require(overlap < size, "overlap must be smaller than chunk size")
    val stride = size - overlap
    df.select(col(id), col(text))
      .withColumn("chunk_idx",
        explode(sequence(lit(0),
          greatest(floor((length(col(text)) - 1) / stride), lit(0)).cast("int"))))
      .select(col(id), col("chunk_idx"),
        col(text).substr(col("chunk_idx") * stride + 1, lit(size)).as("chunk"))
      .filter(length(col("chunk")) > 0)
  }

  /** PII scrub: redact email addresses and long digit runs (phone/ids).
    * Conservative patterns a curation pass applies before training. */
  def scrubPii(text: Column): Column = {
    val noEmail = regexp_replace(text, """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}""", "<EMAIL>")
    regexp_replace(noEmail, """\d{7,}""", "<NUM>")
  }

  /** Dedup-normalization (the CCNet / fuzzy-dedup preprocessing form):
    * lowercase, digits mapped to 0 (so "page 17" ≡ "page 42"), punctuation
    * stripped, whitespace runs collapsed, ends trimmed. Applied to the
    * dedup KEY only — the stored text keeps its original form. Pure
    * regexp_replace chain: codegen'd, one scan, replayable by any engine
    * with the same regex class semantics. */
  def normalizeForDedup(text: Column): Column = {
    // EXPLICIT whitespace class, not \s: Java regex \s includes \x0B
    // (vertical tab) but DuckDB's RE2 \s does not, so \s would let the
    // two engines produce different dedup keys on such input
    val ws = " \\t\\n\\r\\f"
    val lowered = lower(text)
    val digits = regexp_replace(lowered, """[0-9]""", "0")
    val noPunct = regexp_replace(digits, s"""[^a-z0-9$ws]""", "")
    trim(regexp_replace(noPunct, s"""[$ws]+""", " "))
  }

  /** Deterministic content-addressed sampling: keep a doc iff the first hex
    * nibble of md5(id) falls in the accept set — reproducible across
    * engines and runs, no RNG state, uniform in expectation. */
  def deterministicSample(df: DataFrame, id: String, nibbles: Seq[String]): DataFrame =
    df.filter(substring(md5(col(id).cast("string")), 1, 1).isin(nibbles: _*))

  /** Mixture sampling: per-source acceptance rates (a training-data mix
    * like "keep 80% of src A, 20% of src B"), decided by the md5 fraction
    * of the doc id — deterministic, engine-portable, no RNG state. The
    * first 8 hex digits of md5(id) form a uniform 32-bit fraction. */
  def mixtureSample(df: DataFrame, id: String, source: String,
                    weights: Map[String, Double], defaultWeight: Double = 0.0): DataFrame = {
    val frac = graft.functions.Md5Prefix(col(id).cast("string"), 8)
      .cast("double") / 4294967296.0
    val rate = weights.foldLeft(lit(defaultWeight)) { case (acc, (src, w)) =>
      when(col(source) === src, w).otherwise(acc)
    }
    df.filter(frac < rate)
  }

  /** Weighted sampling WITHOUT replacement (Efraimidis–Spirakis A-ES,
    * 2006): each row gets key = −ln(u)/w with u a deterministic md5
    * uniform, and the k smallest keys are the sample — exactly the
    * distribution of sequential weighted draws, but embarrassingly
    * parallel and reproducible (no RNG state; the same rows are chosen on
    * any cluster). The k-cutoff plans as TakeOrderedAndProject — per
    * partition a bounded heap, k rows to the merge — so the operator is
    * one scan at any corpus size (contrast a global sort or a sequential
    * reservoir). u is offset by half a step to stay strictly inside
    * (0,1): Spark's log() is null at 0 where DuckDB's ln() is -inf. */
  def weightedSample(df: DataFrame, id: String, weight: Column, k: Int): DataFrame = {
    val u = (graft.functions.Md5Prefix(col(id).cast("string"), 8)
      .cast("double") + 0.5) / 4294967296.0
    // non-positive/null weights are excluded up front: w = 0 would make
    // the key NULL, and Spark's NULLS FIRST ascending sort would then
    // GUARANTEE selection of exactly the rows that should have ~zero
    // probability (DuckDB sorts NULLS LAST — a silent cross-engine split)
    df.filter(weight.cast("double") > 0)
      .withColumn("__key", -log(u) / weight.cast("double"))
      .orderBy(col("__key"), col(id))
      .limit(k)
      .drop("__key")
  }

  /** Temperature-scaled source mixing (the multilingual/multi-source
    * α-sampling of XLM-R, Conneau et al. 2020): with source shares
    * p_i = n_i/N, sampling ∝ p_i^α flattens the mix toward uniform as
    * α → 0. Realized as per-source acceptance rates normalized so the
    * SMALLEST source keeps everything (upsampling is a loader concern,
    * not a filter's): rate_i = (n_min / n_i)^(1−α).
    *
    * Rates derive from one tiny count aggregate broadcast back; acceptance
    * is the md5 fraction of the doc id (deterministic, engine-portable) —
    * so the entire mix decision is a pure function of (id, source counts)
    * and replays identically anywhere. One scan + one broadcast join at
    * any corpus size. */
  def temperatureMixture(df: DataFrame, id: String, source: String,
                         alpha: Double = 0.3): DataFrame = {
    require(alpha >= 0 && alpha <= 1, "alpha must be in [0, 1]")
    val counts = df.groupBy(col(source)).agg(count(lit(1)).as("__n"))
    val rates = counts
      .crossJoin(broadcast(counts.agg(min(col("__n")).as("__nmin"))))
      .withColumn("accept_rate",
        pow(col("__nmin").cast("double") / col("__n"), 1.0 - alpha))
      .select(col(source), col("accept_rate"))
    val frac = graft.functions.Md5Prefix(col(id).cast("string"), 8)
      .cast("double") / 4294967296.0
    df.join(broadcast(rates), source)
      .filter(frac < col("accept_rate"))
      .withColumn("accept_rate", round(col("accept_rate"), 6))
  }

  /** Deterministic corpus shuffle: assign every doc a global shuffle
    * position = its exact rank under the md5 priority of the id (ties by
    * id). Training-data loaders read the corpus in shuffle_pos order, so
    * this is the "shuffle the dataset" step — reproducible across runs
    * and engines because the permutation is a pure function of the ids.
    *
    * Exact global rank without a global sort funnel: the md5 hex prefix
    * is range-sharded (the shard key is a prefix of the sort key, so it's
    * monotone in the priority), each shard ranks locally in parallel, and
    * shard offsets come from folding the per-shard counts aggregated into
    * one broadcast row — the same two-level shape as packByTokenBudget. */
  def corpusShuffle(df: DataFrame, id: String, nShards: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nShards >= 1 && nShards <= 256, "nShards must be in [1, 256]")
    val prio = md5(col(id).cast("string"))
    val sharded = df
      .withColumn("__prio", prio)
      .withColumn("__shard",
        (conv(substring(col("__prio"), 1, 2), 16, 10).cast("int") * nShards / 256)
          .cast("int"))
    val wLocal = Window.partitionBy(col("__shard")).orderBy(col("__prio"), col(id))
    // the ranked frame feeds BOTH the output and the per-shard counts —
    // without a checkpoint the counts branch re-runs the ENTIRE upstream
    // chain (at cur9 that is the whole curation pass) behind a second
    // shard exchange. localCheckpoint materializes it once and PRESERVES
    // hashpartitioning(__shard), so the counts aggregate runs
    // exchange-free on the blocks (the cls1b pattern); at corpus scale
    // one materialization always beats recomputing the upstream chain
    val local = sharded.withColumn("__local_rank", row_number().over(wLocal))
      .ckpt()
    val counts = local.groupBy(col("__shard"))
      .agg(max(col("__local_rank")).as("__n"))
      .agg(collect_list(struct(col("__shard"), col("__n"))).as("__counts"))
    local.crossJoin(broadcast(counts))
      .withColumn("__offset",
        aggregate(
          filter(col("__counts"), c => c("__shard") < col("__shard")),
          lit(0L), (acc, c) => acc + c("__n")))
      .withColumn("shuffle_pos", col("__offset") + col("__local_rank"))
      .drop("__prio", "__shard", "__local_rank", "__counts", "__offset")
  }

  /** Stratified train/val/test assignment: the md5 fraction of the doc id
    * (uniform per stratum because the hash ignores the stratum) is cut at
    * the cumulative fraction boundaries, so every stratum splits ~valFrac/
    * ~testFrac regardless of stratum size. Deterministic and engine-
    * portable: membership is a pure function of the id, so the split
    * survives reshuffles, re-ingests, and incremental appends — a doc can
    * never migrate between train and test across pipeline runs. */
  def stratifiedSplit(df: DataFrame, id: String,
                      valFrac: Double, testFrac: Double): DataFrame = {
    require(valFrac >= 0 && testFrac >= 0 && valFrac + testFrac < 1,
      "val/test fractions must be non-negative and sum below 1")
    val frac = graft.functions.Md5Prefix(col(id).cast("string"), 8)
      .cast("double") / 4294967296.0
    df.withColumn("split",
      when(frac < testFrac, "test")
        .when(frac < testFrac + valFrac, "val")
        .otherwise("train"))
  }

  /** Corpus statistics per group: docs, token totals, char totals, mean
    * quality proxy — the report a mixing decision is based on. */
  def corpusStats(df: DataFrame, text: String, groupCols: Seq[String]): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(
        count(lit(1)).as("n_docs"),
        sum(tokenEstimate(col(text)).cast("long")).as("total_tokens"),
        sum(length(col(text)).cast("long")).as("total_chars"),
        round(avg(length(col(text))), 4).as("mean_chars"))

  /** Token-budget packing: assign docs (in a deterministic order) to
    * consecutive context-window buckets of `budget` tokens via a running
    * token count — `pack_id = floor((cumsum - tokens) / budget)`.
    *
    * Two-level execution so the global running sum never funnels through a
    * single task: rows are sharded by order-preserving ranges of the
    * (numeric) id domain, each shard computes its local running sum in
    * parallel, and shard offsets come from a prefix sum over the nShards
    * per-shard totals (a window over ≤ nShards rows — trivial). The result
    * is bit-identical to a global-order cumsum because the shard key is
    * monotone in the id. The id-domain bounds are one cheap aggregate,
    * broadcast back — no driver collect.
    *
    * Monotonicity of the range-shard key holds only for NUMERIC ids: a
    * string id casts through double ("10" < "9" numerically but not
    * lexically, and non-numeric strings cast to null), so pack_id would
    * silently diverge from the documented global cumsum. Non-numeric ids
    * therefore fall back to a single shard — still correct, just serial,
    * matching the pre-sharding behavior. */
  def packByTokenBudget(df: DataFrame, id: String, text: String, budget: Int,
                        nShards: Int = 32, keep: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val idIsNumeric =
      df.schema(id).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType]
    val nEff = if (idIsNumeric) nShards else 1
    val toks = df.withColumn("n_tokens", tokenEstimate(col(text)))
    val bounds = toks.agg(
      min(col(id).cast("double")).as("__lo"), max(col(id).cast("double")).as("__hi"))
    val sharded =
      if (nEff == 1) toks.withColumn("__shard", lit(0))
      else toks.crossJoin(broadcast(bounds))
        .withColumn("__shard", coalesce(
          when(col("__hi") > col("__lo"),
            least(lit(nEff - 1),
              floor((col(id).cast("double") - col("__lo")) * nEff /
                    (col("__hi") - col("__lo") + 1)))),
          lit(0)).cast("int"))
    val wLocal = Window.partitionBy(col("__shard")).orderBy(col(id))
      .rowsBetween(Window.unboundedPreceding, 0)
    val local = sharded
      .withColumn("__local_cum", sum(col("n_tokens")).over(wLocal))
    // Shard offsets: fold the ≤ nShards (shard, total) pairs — aggregated
    // into ONE broadcast row — summing totals of strictly-earlier shards.
    // Equivalent to a prefix-sum window over the totals, but with no
    // partition-less WindowExec stage (single-partition window; Spark logs a
    // degradation warning on every run) and no self-join that would plan the
    // running-sum subtree twice. nShards is bounded (default 32, ~10^3 at
    // cluster scale), so the array row is trivially broadcastable.
    // Totals branch hangs off `local` (max of the running sum ≡ shard sum)
    // rather than re-aggregating `sharded`: both branches then sit above the
    // same shard exchange, which ReuseExchange dedupes — one scan + one
    // shuffle write, instead of a second full pass over the text column.
    val totals = local.groupBy(col("__shard"))
      .agg(max(col("__local_cum")).as("__shard_total"))
      .agg(collect_list(struct(col("__shard"), col("__shard_total"))).as("__totals"))
    local.crossJoin(broadcast(totals))
      .withColumn("__offset",
        aggregate(
          filter(col("__totals"), t => t("__shard") < col("__shard")),
          lit(0L), (acc, t) => acc + t("__shard_total")))
      .withColumn("cum_tokens", col("__local_cum") + col("__offset"))
      .withColumn("pack_id", ((col("cum_tokens") - col("n_tokens")) / budget).cast("long"))
      .select(col(id) +: (keep.map(col) ++
        Seq(col("n_tokens"), col("cum_tokens"), col("pack_id"))): _*)
  }
}
