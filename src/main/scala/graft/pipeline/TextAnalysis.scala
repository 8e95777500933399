package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** Text analysis for training-data pipelines: language ID, quality
  * scoring, token counting, document fingerprinting. Every operator is a
  * pure per-row expression (codegen'd, shuffle-free); the heuristics are
  * deliberately simple and SQL-expressible so the DuckDB oracle can mirror
  * them exactly.
  *
  * Every metric is parameterized on a token-array SQL fragment so `enrich`
  * can project the tokenization ONCE and evaluate all metrics over the
  * materialized column — inlining `tokensExpr` into each metric re-ran the
  * interpreted regex-split ~13× per row (round-2 verdict, t01).
  */
object TextAnalysis {

  /** Whitespace tokens of the lowercased text (empty strings removed). */
  def tokensExpr(textCol: String): String =
    s"filter(split(lower($textCol), '\\\\s+'), t -> t != '')"

  /** Case-PRESERVING whitespace tokens — the byte-level tokenizer path:
    * a byte-level BPE that lowercases isn't byte-level ('A' and 'a' are
    * different bytes a real vocabulary must both cover).
    */
  def rawTokensExpr(textCol: String): String =
    s"filter(split($textCol, '\\\\s+'), t -> t != '')"

  /** `size(toks)` — `toks` is any SQL fragment yielding the token array
    * (the raw tokenizer or a projected column reference).
    */
  def tokenCountOf(toks: String): Column =
    expr(s"size($toks)").cast("bigint")

  def tokenCount(textCol: String): Column = tokenCountOf(tokensExpr(textCol))

  /** BPE-ish subword count estimate: whitespace tokens plus an extra unit
    * per 6 characters of long tokens (a cheap stand-in for a real
    * tokenizer's subword splits — deterministic, mirrorable in SQL).
    */
  def subwordCountEstimateOf(toks: String): Column =
    expr(
      s"""aggregate($toks, 0L,
         |  (acc, t) -> acc + greatest(1L, cast(ceil(length(t) / 6.0) as long)))"""
        .stripMargin).cast("bigint")

  def subwordCountEstimate(textCol: String): Column =
    subwordCountEstimateOf(tokensExpr(textCol))

  /** Stopword-ratio language ID. Per language, score = fraction of tokens
    * in that language's small function-word set; argmax with 'und'
    * (undetermined) when the best score is below `minScore`.
    */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it", "that"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "un", "une", "est"),
    "es" -> Seq("el", "la", "de", "y", "los", "las", "un", "una", "es"),
    "de" -> Seq("der", "die", "das", "und", "ein", "eine", "ist", "von"))

  def langScoreOf(toks: String, lang: String): Column = {
    val set = stopwords(lang).map(s => s"'$s'").mkString("array(", ",", ")")
    expr(
      s"""size(filter($toks, t -> array_contains($set, t)))
         | / cast(greatest(size($toks), 1) as double)""".stripMargin)
  }

  def langScore(textCol: String, lang: String): Column =
    langScoreOf(tokensExpr(textCol), lang)

  def langIdOf(toks: String, minScore: Double = 0.02): Column = {
    val scored = stopwords.keys.toSeq.sorted.map(l => (l, langScoreOf(toks, l)))
    // argmax with deterministic tie-break on language code order
    val best = scored.tail.foldLeft(struct(lit(scored.head._1).as("lang"), scored.head._2.as("s"))) {
      case (acc, (l, s)) =>
        when(s > acc.getField("s"), struct(lit(l).as("lang"), s.as("s"))).otherwise(acc)
    }
    when(best.getField("s") >= minScore, best.getField("lang")).otherwise(lit("und"))
  }

  /** NATIVE codegen'd twin of [[langIdOf]] over a token-array COLUMN —
    * byte-identical output (TextExprSpec equivalence): one scan with a
    * per-token hash probe instead of one interpreted
    * filter(array_contains) pass per language (4 scans; measured 1.55 s
    * of t01's 2.05 s at sf0.1). Internal consumers ([[enrich]], t08's
    * tagging) use this one; the HOF form above documents the exact
    * semantics the DuckDB oracles mirror.
    */
  def langIdCol(toks: Column, minScore: Double = 0.02): Column =
    // coalesce replicates the HOF's NULL behavior exactly: a NULL token
    // array folds its NULL score through when(...) to 'und' there, while
    // a null-intolerant native expression would return NULL
    coalesce(
      org.apache.spark.sql.graftbridge.Bridge.column(
        graft.functions.StopwordLangId(
          org.apache.spark.sql.graftbridge.Bridge.expression(toks),
          stopwords.toSeq.sortBy(_._1), minScore)),
      lit("und"))

  def langId(textCol: String, minScore: Double = 0.02): Column =
    langIdCol(expr(tokensExpr(textCol)), minScore)

  /** Quality score in [0,1]: length saturation, lexical diversity, and
    * (1 − punctuation ratio), weighted 0.4/0.3/0.3.
    */
  def qualityScoreOf(textCol: String, toks: String): Column = {
    val nTok = s"cast(size($toks) as double)"
    val nDistinct = s"cast(size(array_distinct($toks)) as double)"
    val punct = s"cast(length(regexp_replace($textCol, '[^.,;:!?]', '')) as double)"
    val chars = s"cast(greatest(length($textCol), 1) as double)"
    expr(
      s"""0.4 * least($nTok / 100.0, 1.0)
         | + 0.3 * (CASE WHEN $nTok = 0 THEN 0.0 ELSE $nDistinct / $nTok END)
         | + 0.3 * (1.0 - $punct / $chars)""".stripMargin)
  }

  def qualityScore(textCol: String): Column =
    qualityScoreOf(textCol, tokensExpr(textCol))

  /** Stable content fingerprint: md5 of the normalized text (lowercase,
    * collapsed whitespace) — identical in any engine with md5. Accepts
    * an expression fragment like the other textCol APIs here.
    */
  def fingerprintMd5(textCol: String): Column =
    md5(Dedup.normText(expr(textCol)))

  /** Rolling polynomial hash (base 31, mod 1e9+7) of the normalized
    * text — the cheap streaming-friendly fingerprint variant. Modular to
    * stay ANSI-overflow-safe; native codegen'd fold (= portableFold over
    * normText, which is exactly what the HOF formulation computed).
    */
  def rollingHash(textCol: String): Column =
    // expr(), not col(): textCol may be an expression fragment, as in
    // every other textCol-taking API in this file
    Dedup.portableFold(Dedup.normText(expr(textCol)))

  /** Word n-gram MULTISET (order-preserving, duplicates kept — unlike
    * Dedup.shingleExpr's distinct set) over a token-array fragment.
    * Same zip_with-fold shape as shingleExpr: lambda bodies touch only
    * lambda variables, so nothing is re-evaluated per element; `toks`
    * itself appears ~n times at PROJECTION level (one regex split each
    * when it's the raw tokenizer — pass a materialized column reference
    * to make those free). Fewer than n tokens → empty array (zip_with
    * pads with null → concat null-propagates → filtered).
    */
  def ngramsOf(toks: String, n: Int): String = {
    require(n >= 2, s"ngramsOf needs n >= 2, got $n")
    val folded = (2 to n).foldLeft(toks) { (acc, i) =>
      s"zip_with($acc, slice($toks, $i, size($toks)), (x, y) -> concat(x, ' ', y))"
    }
    s"filter($folded, s -> s IS NOT NULL)"
  }

  /** NATIVE codegen'd twin of [[ngramsOf]] over a token-array COLUMN —
    * byte-identical output (TextExprSpec equivalence); the internal
    * consumers (repetition metrics, decontamination) use this one, the
    * SQL-fragment form above documents the semantics the oracles mirror.
    */
  def ngramCol(toks: Column, n: Int): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.TokenNgrams(
        org.apache.spark.sql.graftbridge.Bridge.expression(toks), n))

  /** Gopher-style repetition metrics per document — the standard
    * training-data quality signals for boilerplate/spam:
    *
    *   - `dup_word_frac`     1 − distinct/total tokens
    *   - `top_bigram_frac`   occurrences of the most frequent bigram /
    *                         total bigrams
    *   - `dup_trigram_frac`  1 − distinct/total trigrams
    *
    * Scale shape: ZERO shuffles. Every metric is a per-document statistic,
    * so all four are pure per-row expressions; the top-bigram count is the
    * native [[graft.functions.TopNgramCount]] (one pass, one local hash
    * map) instead of the previous explode → groupBy(id, hash) →
    * groupBy(id).max → join-back — which shuffled O(rows·bigrams) twice
    * and carried a (vanishingly small but nonzero) xxhash64 collision
    * risk the per-row exact-string count doesn't have. Measured at sf0.1:
    * 1.08 s → 0.41 s (hash-materialized bench, min-of-5).
    */
  def repetitionMetrics(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val topBigram = org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.TopNgramCount(
        org.apache.spark.sql.graftbridge.Bridge.expression(col("__toks")), 2))
    df.select(col(idCol).as("id"), col(textCol))
      .withColumn("__toks", expr(tokensExpr(textCol)))
      .withColumn("__bg", ngramCol(col("__toks"), 2))
      .withColumn("__tg", ngramCol(col("__toks"), 3))
      .select(col("id"),
        expr("size(__toks)").cast("bigint").as("token_count"),
        expr("""CASE WHEN size(__toks) = 0 THEN 0.0
               |ELSE 1.0 - size(array_distinct(__toks)) / cast(size(__toks) as double)
               |END""".stripMargin).as("dup_word_frac"),
        when(expr("size(__bg)") === 0, lit(0.0))
          .otherwise(topBigram.cast("double") / expr("size(__bg)").cast("double"))
          .as("top_bigram_frac"),
        expr("""CASE WHEN size(__tg) = 0 THEN 0.0
               |ELSE 1.0 - size(array_distinct(__tg)) / cast(size(__tg) as double)
               |END""".stripMargin).as("dup_trigram_frac"))
  }

  /** Benchmark decontamination: flag every document sharing at least one
    * word n-gram with the benchmark/eval corpus (the standard guard
    * against test-set leakage into training data). Returns one row per
    * document: (id, overlap_shingles, contaminated).
    *
    * Scale shape: both sides shingle → hash once (64-bit) → distinct, so
    * the join carries (id, long) pairs, never text. The benchmark shingle
    * set (eval suites are ~10⁴–10⁶ docs vs a 10⁹-doc corpus) is
    * broadcast — the corpus side is a single map-side pass plus one
    * partial-aggregated count per contaminated doc. Documents shorter
    * than n tokens yield no shingles and are never flagged.
    */
  /** (id, h) shingle-hash pairs, NOT yet deduplicated — the token array
    * is projected first so the tokenizer runs once per row (ngramsOf
    * references the fragment ~2n−1 times; against a materialized column
    * those references are free attribute reads).
    */
  private def shingleHashPairs(df: DataFrame, textCol: String, idCol: String,
                               n: Int, ngramHash: Column => Column): DataFrame =
    df.select(col(idCol).as("id"), expr(tokensExpr(textCol)).as("__toks"))
      .select(col("id"), explode(ngramCol(col("__toks"), n)).as("s"))
      .select(col("id"), ngramHash(col("s")).as("h"))

  /** Per-doc count of distinct shingles shared with the benchmark — only
    * contaminated docs appear. The benchmark side dedups on h alone (one
    * aggregation); the corpus side on (id, h).
    */
  private def contaminationHits(docs: DataFrame, benchmark: DataFrame,
                                textCol: String, idCol: String, n: Int,
                                ngramHash: Column => Column): DataFrame =
    shingleHashPairs(docs, textCol, idCol, n, ngramHash).distinct()
      .join(broadcast(
        shingleHashPairs(benchmark, textCol, idCol, n, ngramHash)
          .select("h").distinct()), Seq("h"))
      .groupBy("id").agg(count(lit(1)).as("overlap_shingles"))

  def decontaminate(docs: DataFrame, benchmark: DataFrame, textCol: String,
                    idCol: String, n: Int = 8,
                    ngramHash: Column => Column = xxhash64(_)): DataFrame = {
    val hits = contaminationHits(docs, benchmark, textCol, idCol, n, ngramHash)
    docs.select(col(idCol).as("id"))
      .join(hits, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("overlap_shingles"), lit(0L)).as("overlap_shingles"),
        (coalesce(col("overlap_shingles"), lit(0L)) > 0).as("contaminated"))
  }

  /** The clean subset of `docs`: rows sharing no n-gram with the
    * benchmark. Anti-joins the corpus directly against the contaminated
    * ids — no corpus-wide left join for overlap counts nobody reads.
    */
  def decontaminated(docs: DataFrame, benchmark: DataFrame, textCol: String,
                     idCol: String, n: Int = 8,
                     ngramHash: Column => Column = xxhash64(_)): DataFrame =
    docs.join(
      contaminationHits(docs, benchmark, textCol, idCol, n, ngramHash)
        .select(col("id").as("__cid")),
      docs(idCol) === col("__cid"), "left_anti")

  /** Multi-benchmark contamination matrix: overlap of every corpus doc
    * against EVERY benchmark suite in one corpus pass. `benchmarks`
    * carries one row per benchmark document with its suite id in
    * `benchIdCol`; output is the sparse matrix (id, bench_id,
    * overlap_shingles) — only contaminated cells appear.
    *
    * Real decontamination runs against dozens of eval suites at once;
    * calling [[decontaminate]] per suite re-tokenizes and re-shingles
    * the 100 TB corpus N times. Here the corpus side is shingled ONCE;
    * the bench side (eval suites are small by definition) dedups to
    * (bench_id, shingle) and broadcasts; the matrix is one equi-join +
    * one partial-agg groupBy keyed (id, bench_id).
    */
  def contaminationMatrix(docs: DataFrame, benchmarks: DataFrame,
                          textCol: String, idCol: String, benchIdCol: String,
                          n: Int = 8,
                          ngramHash: Column => Column = xxhash64(_)): DataFrame = {
    val corpus = shingleHashPairs(docs, textCol, idCol, n, ngramHash).distinct()
    val bench = shingleHashPairs(benchmarks, textCol, benchIdCol, n, ngramHash)
      .withColumnRenamed("id", "bench_id").distinct()
    corpus.join(broadcast(bench), Seq("h"))
      .groupBy("id", "bench_id").agg(count(lit(1)).as("overlap_shingles"))
  }

  /** Per-suite rollup of [[contaminationMatrix]]: (bench_id,
    * contaminated_docs, total_overlap_shingles), zero rows for clean
    * suites. Config-sized output — the publish-gate summary.
    */
  def contaminationReport(docs: DataFrame, benchmarks: DataFrame,
                          textCol: String, idCol: String, benchIdCol: String,
                          n: Int = 8,
                          ngramHash: Column => Column = xxhash64(_)): DataFrame = {
    val agg = contaminationMatrix(docs, benchmarks, textCol, idCol, benchIdCol,
        n, ngramHash)
      .groupBy("bench_id")
      .agg(count_distinct(col("id")).as("contaminated_docs"),
        sum("overlap_shingles").as("total_overlap_shingles"))
    benchmarks.select(col(benchIdCol).as("bench_id")).distinct()
      .join(agg, Seq("bench_id"), "left")
      .select(col("bench_id"),
        coalesce(col("contaminated_docs"), lit(0L)).as("contaminated_docs"),
        coalesce(col("total_overlap_shingles"), lit(0L)).as("total_overlap_shingles"))
  }

  /** The subset of `docs` clean against ALL benchmark suites — one
    * corpus pass, one anti-join on the distinct contaminated ids.
    */
  def decontaminatedAll(docs: DataFrame, benchmarks: DataFrame,
                        textCol: String, idCol: String, benchIdCol: String,
                        n: Int = 8,
                        ngramHash: Column => Column = xxhash64(_)): DataFrame =
    docs.join(
      contaminationMatrix(docs, benchmarks, textCol, idCol, benchIdCol, n, ngramHash)
        .select(col("id").as("__cid")).distinct(),
      docs(idCol) === col("__cid"), "left_anti")

  /** PII redaction: replace emails, IBANs, payment-card numbers,
    * phone-shaped numbers, and IPv6/IPv4 addresses with typed
    * placeholders. Pure per-row regexp chain (codegen'd, shuffle-free);
    * patterns are (regex, replacement) pairs applied in order, so
    * callers can extend or re-order. The defaults use only
    * RE2-compatible syntax — portable to engines whose regex is RE2
    * (no lookbehind).
    *
    * Order is load-bearing (r16, crawl-text extension):
    *  - `<CARD>` runs BEFORE `<PHONE>` — a 16-digit card with
    *    separators contains a phone-shaped 3-4-4 substring, and the
    *    phone pass would shred it;
    *  - `<IPV6>` runs before `<IPV4>` so a mapped address like
    *    `::ffff:…` is claimed by the IPv6 pass first.
    * Shape contracts (redaction errs toward over-matching — these are
    * FORMAT matchers, not validators):
    *  - `<CARD>`: 13-16 digits as 4-4-4-(1..4) groups, separators
    *    space/dash or absent — the Luhn-CHECKABLE format (the checksum
    *    itself is not verified; a redactor must also catch mistyped
    *    numbers);
    *  - `<IBAN>`: country code + 2 check digits + 11-31 alphanumerics,
    *    compact or space-grouped by 4;
    *  - `<IPV6>`: the full 8-group form, or any `::`-compressed form
    *    with a hex group on at least one side of the `::` (a bare `::`
    *    is not an address in running text). Zone suffixes (`%eth0`)
    *    are left behind.
    */
  val defaultPiiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "\\b[A-Z]{2}[0-9]{2}( ?[A-Z0-9]{4}){2,7}( ?[A-Z0-9]{1,3})?\\b" -> "<IBAN>",
    "\\b\\d{4}[ -]?\\d{4}[ -]?\\d{4}[ -]?\\d{1,4}\\b" -> "<CARD>",
    "\\d{2,3}[-. ]\\d{3}[-. ]\\d{3,4}[-. ]\\d{4}" -> "<PHONE>",
    ("(?i)(\\b([0-9a-f]{1,4}:){7}[0-9a-f]{1,4}\\b" +
      "|\\b[0-9a-f]{1,4}(:[0-9a-f]{1,4})*::([0-9a-f]{1,4}(:[0-9a-f]{1,4})*\\b)?" +
      "|::[0-9a-f]{1,4}(:[0-9a-f]{1,4})*\\b)") -> "<IPV6>",
    "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b" -> "<IP>")

  def redactPII(textCol: Column,
                patterns: Seq[(String, String)] = defaultPiiPatterns): Column =
    patterns.foldLeft(textCol) { case (c, (re, repl)) => regexp_replace(c, re, repl) }

  /** Corpus vocabulary with document and term frequencies: one row per
    * token with `doc_freq` (documents containing it) and `term_count`
    * (total occurrences), keeping tokens with doc_freq >= minDocFreq.
    * The building block for IDF weighting, stopword discovery, and
    * tokenizer-vocab induction.
    *
    * Scale shape (r18 opt, guide §2.3): per-(doc, token) counts happen
    * INSIDE the row (TokenTfPairs via [[Relevance.termFrequencies]]),
    * so the corpus never shuffles token-level rows; ONE map-side-
    * combined groupBy(token) folds the per-doc pairs into doc_freq
    * (pair-row count) and term_count (tf sum). The r17 shape shuffled
    * every token occurrence into groupBy(id, token) first. The final
    * frame is vocabulary-sized, not corpus-sized. (IDF itself is left to
    * the caller: log() is the one step whose last-bit rounding differs
    * across engines, so the exact-count contract stops here.)
    *
    * Precondition: `idCol` is unique per row (the corpus contract) —
    * doc_freq counts per-ROW pairs, matching the old per-(id, token)
    * grouping exactly when ids are unique.
    */
  def vocabulary(df: DataFrame, textCol: String, idCol: String,
                 minDocFreq: Long = 1L): DataFrame =
    Relevance.termFrequencies(df, textCol, idCol)
      .groupBy("token").agg(count(lit(1)).as("doc_freq"), sum("tf").as("term_count"))
      .filter(col("doc_freq") >= minDocFreq)

  /** Assign frequency-ranked integer ids to a [[vocabulary]] frame:
    * rank 0 = highest term_count, ties broken by token string (a total
    * order, so ids are deterministic). Output: (token, tid int).
    *
    * The global ranking is a DISTRIBUTED range-partitioned sort +
    * `zipWithIndex` (per-partition offsets from one count job) — NOT an
    * unpartitioned row_number window, which would drag the whole vocab
    * through a single task (the fillDirectional lesson; a web-scale
    * vocab is tens of millions of tokens).
    */
  def rankVocabulary(vocab: DataFrame): DataFrame = {
    val spark = vocab.sparkSession
    import spark.implicits._
    vocab.select(col("token"), col("term_count"))
      .sort(desc("term_count"), asc("token"))
      .select("token").as[String]
      .rdd.zipWithIndex()
      .map { case (t, i) =>
        // a wrapped Int would collide with encodeTokens' oovId space
        require(i <= Int.MaxValue, s"vocabulary exceeds Int id range at '$t' (rank $i)")
        (t, i.toInt)
      }
      .toDF("token", "tid")
  }

  /** Encode each document's token sequence as vocabulary ids — the step
    * between [[vocabulary]] and a training loader. Out-of-vocabulary
    * tokens get `oovId`. Output: (id, n_tokens, token_ids array<int>,
    * ids in document token order); docs with zero tokens are absent
    * (explode semantics — mirror of the oracle's unnest).
    *
    * Scale shape (r18 opt, guide §2.3): when the ranked vocab fits the
    * dictionary gate (`graft.encodeDictMaxRows` session conf, default
    * 2 M entries — tens of MB broadcast), it is collected ONCE and each
    * document encodes inside its own row ([[graft.functions.TokenDictIds]]
    * over a broadcast hash map) — no posexplode, no join, no
    * reassembly groupBy: the corpus never shuffles token-level rows.
    * Above the gate (web-scale vocabularies), the r17 shape runs
    * unchanged: one posexplode, one token-keyed LEFT join to the ranked
    * vocab, one per-doc reassembly groupBy with an in-row `array_sort`
    * back to document order (never a global window). Both paths emit
    * identical rows — ids in document token order, OOV → `oovId`, docs
    * with zero tokens absent. The returned plan is lazy and reads the
    * dictionary broadcast, so the broadcast is not destroyed here: the
    * ContextCleaner removes it once the returned frame is unreachable.
    */
  def encodeTokens(df: DataFrame, textCol: String, idCol: String,
                   rankedVocab: DataFrame, oovId: Int = -1): DataFrame = {
    require(rankedVocab.columns.contains("token") && rankedVocab.columns.contains("tid"),
      s"rankedVocab needs (token, tid) — got ${rankedVocab.columns.mkString(",")}; " +
        "build it with rankVocabulary(vocabulary(...))")
    val gate = df.sparkSession.conf.get("graft.encodeDictMaxRows", "2000000").toInt
    val head = rankedVocab.select(col("token"), col("tid")).limit(gate + 1).collect()
    if (head.length <= gate) {
      val dict = new java.util.HashMap[org.apache.spark.unsafe.types.UTF8String,
        Integer](math.max(16, head.length * 2))
      head.foreach(r => dict.put(
        org.apache.spark.unsafe.types.UTF8String.fromString(r.getString(0)),
        Integer.valueOf(r.getInt(1))))
      val bc = df.sparkSession.sparkContext.broadcast(dict)
      df.select(col(idCol).as("id"), expr(tokensExpr(textCol)).as("__tk"))
        .filter(size(col("__tk")) > 0)
        .select(col("id"), size(col("__tk")).cast("long").as("n_tokens"),
          graft.functions.VectorFunctions.tokenDictIds(col("__tk"), bc, oovId)
            .as("token_ids"))
    } else
      df.select(col(idCol).as("id"),
          posexplode(expr(tokensExpr(textCol))).as(Seq("pos", "token")))
        .join(rankedVocab.select("token", "tid"), Seq("token"), "left")
        .withColumn("tid", coalesce(col("tid"), lit(oovId)))
        .groupBy("id")
        .agg(count(lit(1)).as("n_tokens"),
          expr("transform(array_sort(collect_list(struct(pos, tid))), x -> x.tid)")
            .as("token_ids"))
  }

  /** Per-document mean unigram log-probability under the corpus's own
    * unigram model — the in-engine stand-in for the LM-perplexity quality
    * signal (CCNet/Dolma bucket documents by perplexity; a corpus unigram
    * LM is the deterministic, dependency-free analog: repetitive
    * common-word soup scores HIGH, rare-token noise scores LOW).
    *
    * avg_logp = Σ_t tf_t·ln(count_t / N) / Σ_t tf_t over the doc's
    * distinct tokens t; counts come from one [[vocabulary]]-style pass.
    * Scale shape: two explode+partial-agg groupBys (corpus counts, per-doc
    * tfs) plus one token-keyed join of the doc-term frame to the
    * vocabulary (vocabulary-sized — AQE broadcasts when it fits). The
    * per-doc fold sums in token order (sorted few-element list) so the
    * float total is bit-stable across engines and run topologies; every
    * token is in the vocabulary by construction (N ≥ count_t ≥ tf_t ≥ 1).
    *
    * Output: (id, n_tokens, avg_logp) — one row per corpus doc. Docs with
    * no tokens (empty/whitespace/NULL text) get (id, 0, NULL): the score
    * must COVER the corpus (the c4Rules partition contract), and NULL —
    * not some sentinel — is the honest "no evidence" value for bucketing
    * to route explicitly.
    */
  def unigramLogProb(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    // the SAME term frequencies the relevance operators score with
    val tf = Relevance.termFrequencies(df, textCol, idCol)
    val vocab = tf.groupBy("token").agg(sum("tf").as("cnt"))
    val n = df.select(coalesce(sum(tokenCount(textCol)), lit(0L))).first().getLong(0)
    require(n > 0, "unigramLogProb: corpus has no tokens")
    val scored = tf.join(vocab, "token")
      .withColumn("__lp", col("tf") * log(col("cnt").cast("double") / lit(n.toDouble)))
      .groupBy("id")
      .agg(
        sum(col("tf")).as("n_tokens"),
        // r17 opt: compiled ordered fold (see SortedStructSum)
        (graft.functions.VectorFunctions.orderedStructSum(
          collect_list(struct(col("token"), col("__lp"))))
          / sum(col("tf"))).as("avg_logp"))
    df.select(col(idCol).as("id")).join(scored, Seq("id"), "left")
      .withColumn("n_tokens", coalesce(col("n_tokens"), lit(0L)))
  }

  /** Corpus-bigram LM quality signal — one order of context beyond
    * [[unigramLogProb]] (closer to the CCNet perplexity filter while
    * staying fully deterministic): per doc,
    * avg over bigrams of log P(w₂|w₁) with
    * P(w₂|w₁) = (C(w₁w₂) + α·C(w₂)/N) / (C(w₁) + α) — interpolated
    * add-α smoothing, so unseen continuations back off to the unigram
    * distribution. All counts are exact integers from two partial-agg
    * passes (per-doc bigram tf → corpus bigram counts; token counts
    * reuse the tf frame); the per-doc float fold runs in bigram-string
    * order (bit-stable, same discipline as c02/t10). Docs with < 2
    * tokens keep a row with n_bigrams 0 and NULL score.
    */
  def bigramLogProb(df: DataFrame, textCol: String, idCol: String,
                    alpha: Double = 1.0): DataFrame = {
    require(alpha > 0, s"alpha must be positive, got $alpha")
    // r17 opt: per-(doc, bigram) counts inside the row (TokenTfPairs) —
    // no token-level exchange; same rows as explode → groupBy(id, bg)
    val tf2 = df.select(col(idCol).as("id"),
        explode(graft.functions.VectorFunctions.tokenTfPairs(
          ngramCol(expr(tokensExpr(textCol)), 2))).as("__tt"))
      .select(col("id"), col("__tt.token").as("bg"), col("__tt.tf").as("tf2"))
    val c2 = tf2.groupBy("bg").agg(sum("tf2").as("c2"))
    val tf1 = Relevance.termFrequencies(df, textCol, idCol)
    val c1 = tf1.groupBy("token").agg(sum("tf").as("c1"))
    val n = df.select(coalesce(sum(tokenCount(textCol)), lit(0L))).first().getLong(0)
    require(n > 0, "bigramLogProb: corpus has no tokens")
    val scored = tf2.join(c2, "bg")
      .withColumn("__w1", substring_index(col("bg"), " ", 1))
      .withColumn("__w2", substring_index(col("bg"), " ", -1))
      .join(c1.select(col("token").as("__w1"), col("c1").as("c1a")), "__w1")
      .join(c1.select(col("token").as("__w2"), col("c1").as("c1b")), "__w2")
      .withColumn("__lp", col("tf2") * log(
        (col("c2") + lit(alpha) * col("c1b").cast("double") / lit(n.toDouble))
          / (col("c1a") + lit(alpha))))
      .groupBy("id")
      .agg(
        sum(col("tf2")).as("n_bigrams"),
        // r17 opt: compiled ordered fold (see SortedStructSum)
        (graft.functions.VectorFunctions.orderedStructSum(
          collect_list(struct(col("bg"), col("__lp"))))
          / sum(col("tf2"))).as("avg_logp2"))
    df.select(col(idCol).as("id")).join(scored, Seq("id"), "left")
      .withColumn("n_bigrams", coalesce(col("n_bigrams"), lit(0L)))
  }

  /** Hashed bag-of-tokens featurization (the "hashing trick"): each
    * token lands in bucket `portableFold(token) mod dim`, per-doc bucket
    * counts become the feature vector. This is the classifier-
    * featurization half of model-based quality filtering (fastText-style
    * quality classifiers in LLM curation stacks): no vocabulary
    * dictionary to build, broadcast, or keep consistent across a 100 TB
    * corpus — the hash IS the dictionary, so featurization is one
    * explode → partial-agg groupBy on (id, bucket) plus one per-id
    * aggregate, and an incremental batch featurizes identically without
    * seeing the rest of the corpus. The portable fold keeps the bucket
    * assignment engine-independent (oracle-checkable), unlike spark.ml's
    * HashingTF (Murmur3-specific).
    *
    * Sparse output (default): (id, indices, vals) with indices sorted
    * ascending. Dense (`dense = true`): (id, features) of length `dim` —
    * the shape `MLSupport.train` consumes after column expansion. Docs
    * with no tokens keep a row (empty arrays / zero vector) — the
    * featurization must COVER the corpus, same contract as c4Rules.
    */
  def hashedTokenFeatures(df: DataFrame, textCol: String, idCol: String,
                          dim: Int, dense: Boolean = false): DataFrame = {
    require(dim > 0 && dim <= (1 << 24), s"dim must be in [1, 2^24], got $dim")
    // the dense path materializes a dim-length array PER ROW — a 2^24
    // cap would be a 16M-element array per document, so dense gets its
    // own much tighter bound (65k features is already generous for a
    // quality classifier; use the sparse shape beyond that)
    require(!dense || dim <= (1 << 16),
      s"dense=true materializes a dim-length array per row; cap is 2^16, got $dim")
    val counts = df
      .select(col(idCol).as("id"), explode(expr(tokensExpr(textCol))).as("__t"))
      .select(col("id"),
        pmod(Dedup.portableFold(col("__t")), lit(dim.toLong)).cast("int").as("__bucket"))
      .groupBy("id", "__bucket").agg(count(lit(1)).as("__cnt"))
    val grouped = counts.groupBy("id")
      .agg(sort_array(collect_list(struct(col("__bucket"), col("__cnt")))).as("__bc"))
    val base = df.select(col(idCol).as("id")).join(grouped, Seq("id"), "left_outer")
    if (dense)
      // densify by GAP-FILLING the sorted sparse entries: entry i
      // contributes (bucket_i - bucket_{i-1} - 1) zeros then its count,
      // plus one trailing zero-run to dim. O(dim + nnz) per row — the
      // previous per-index map probe was O(dim × nnz) (Spark's map
      // lookup is a linear scan, so binding the map once doesn't fix it)
      base.select(col("id"),
        coalesce(
          expr(s"""concat(
            flatten(transform(__bc, (x, i) -> concat(
              array_repeat(0.0d, x.__bucket - if(i = 0, -1, __bc[i-1].__bucket) - 1),
              array(cast(x.__cnt as double))))),
            array_repeat(0.0d, $dim - 1 - __bc[size(__bc) - 1].__bucket))"""),
          array_repeat(lit(0.0d), dim)).as("features"))
    else
      base.select(col("id"),
        when(col("__bc").isNull, expr("cast(array() as array<int>)"))
          .otherwise(expr("transform(__bc, x -> x.__bucket)")).as("indices"),
        when(col("__bc").isNull, expr("cast(array() as array<double>)"))
          .otherwise(expr("transform(__bc, x -> cast(x.__cnt as double))")).as("vals"))
  }

  /** Hashed Naive Bayes quality classifier — train + score in one job.
    * The deterministic, dependency-free analog of the fastText quality
    * classifiers LLM curation stacks train on a "high-quality seed"
    * (reference-corpus docs positive, random crawl docs negative) and then
    * apply to the whole crawl. `isPos` marks the positive class (e.g.
    * `col("source").isin(...)`); every row is used for training and every
    * row is scored.
    *
    * Model: token → bucket `portableFold(token) mod dim` (the hashing
    * trick — no vocabulary dictionary, so an incremental batch scores
    * identically without seeing the rest of the corpus); per-class bucket
    * counts with add-1 smoothing give per-bucket log-odds
    * `lw[b] = ln((cp[b]+1)/(Tp+dim)) − ln((cn[b]+1)/(Tn+dim))`; a doc's
    * score is its length-normalized log-odds `Σ_b cnt[b]·lw[b] / Σ cnt`.
    *
    * Scale shape: one explode → (id, bucket) partial-agg shuffle, one
    * bucket-keyed aggregate over the (already collapsed) doc-bucket frame,
    * then the dim-row weight table joins back — broadcast at any corpus
    * scale (dim ≤ 2^24). The per-doc float fold runs in bucket order
    * (sorted few-element list), bit-stable across engines, same
    * discipline as t10/c02. The two class-total scalars are the only
    * driver-side values (config-sized). Docs with no tokens keep a row
    * with n_tokens 0 and NULL score (c4Rules coverage contract).
    *
    * Output: (id, n_tokens, logodds, pred_hq) — pred_hq = logodds > 0,
    * NULL score ⇒ NULL pred (no evidence is not a prediction).
    */
  def nbQualityScore(df: DataFrame, textCol: String, idCol: String,
                     isPos: Column, dim: Int = 256): DataFrame = {
    require(dim > 0 && dim <= (1 << 24), s"dim must be in [1, 2^24], got $dim")
    val docBucket = df
      .select(col(idCol).as("id"), explode(expr(tokensExpr(textCol))).as("__t"))
      .select(col("id"),
        pmod(Dedup.portableFold(col("__t")), lit(dim.toLong)).cast("int").as("__b"))
      .groupBy("id", "__b").agg(count(lit(1)).as("__cnt"))
    val labels = df.select(col(idCol).as("id"), isPos.as("__pos"))
    val classBucket = docBucket.join(labels, "id")
      .groupBy("__b")
      .agg(sum(when(col("__pos"), col("__cnt")).otherwise(lit(0L))).as("__cp"),
        sum(when(!col("__pos"), col("__cnt")).otherwise(lit(0L))).as("__cn"))
    // two class-total scalars: config-sized driver collect, same as t10's N
    val totRow = classBucket
      .agg(coalesce(sum("__cp"), lit(0L)), coalesce(sum("__cn"), lit(0L))).first()
    val (tp, tn) = (totRow.getLong(0), totRow.getLong(1))
    require(tp > 0 && tn > 0,
      s"nbQualityScore: both classes need at least one token (pos=$tp, neg=$tn)")
    val weights = classBucket.select(col("__b"),
      (log((col("__cp") + lit(1.0d)) / lit(tp.toDouble + dim))
        - log((col("__cn") + lit(1.0d)) / lit(tn.toDouble + dim))).as("__lw"))
    val scored = docBucket.join(broadcast(weights), "__b")
      .groupBy("id")
      .agg(sum(col("__cnt")).as("n_tokens"),
        // r17 opt: compiled ordered fold (see SortedStructSum)
        (graft.functions.VectorFunctions.orderedStructSum(
          collect_list(struct(col("__b"), (col("__cnt") * col("__lw")).as("__x"))))
          / sum(col("__cnt"))).as("logodds"))
    df.select(col(idCol).as("id")).join(scored, Seq("id"), "left")
      .withColumn("n_tokens", coalesce(col("n_tokens"), lit(0L)))
      .withColumn("pred_hq", when(col("logodds").isNotNull, col("logodds") > 0.0d))
  }

  /** Pareto rejection sampling on a quality score — the documented GPT-3
    * curation rule ("keep a document iff `pareto(α) > 1 − score`"): noisy
    * quality thresholding that keeps most high-scoring docs while still
    * admitting a long tail of low scorers, so the kept set isn't a hard
    * cliff at the classifier boundary. Deterministic analog: the uniform
    * driving the Pareto draw is hash-derived from the document id
    * (`portableFold(id) mod M`, M = 1e6+3), so the kept set is a pure
    * function of (ids, scores) — replayable, engine-portable, and
    * incremental batches decide identically. `scoreCol` is a log-odds
    * (e.g. [[nbQualityScore]] output); it is squashed to (0,1) via the
    * logistic sigmoid before the rule. Shuffle-free: one codegen'd
    * projection + filter over the scored frame; NULL scores are dropped
    * (no evidence ⇒ not admitted — route them explicitly upstream).
    *
    * Output: input row subset, plus `q` (sigmoid score) and `pareto`
    * (the doc's draw), both useful for audit.
    */
  def paretoQualitySample(scored: DataFrame, idCol: String, scoreCol: String,
                          alpha: Double = 9.0): DataFrame = {
    require(alpha > 0, s"alpha must be positive, got $alpha")
    val m = 1000003L
    val u = (pmod(Dedup.portableFold(col(idCol).cast("string")), lit(m)) + lit(1.0d)) /
      lit(m + 1.0d)
    val pareto = pow(u, lit(-1.0d / alpha)) - lit(1.0d)
    val q = lit(1.0d) / (lit(1.0d) + exp(-col(scoreCol)))
    scored
      .withColumn("q", q)
      .withColumn("pareto", pareto)
      .filter(col(scoreCol).isNotNull && col("pareto") > lit(1.0d) - col("q"))
  }

  /** Split documents into overlapping token windows — the
    * context-window chunking step of a training pipeline. Emits one row
    * per chunk: (id, chunk_id, n_tokens, chunk). Chunk i covers tokens
    * [i·(maxTokens−overlap), …+maxTokens); the chunk count
    * ceil(max(nTok−overlap, 1) / (maxTokens−overlap)) guarantees every
    * token is covered and the last chunk still ends at the document tail.
    * Empty documents produce no chunks.
    *
    * Pure per-row expression work (tokenize → arithmetic → slice), no
    * shuffle: scales with scan throughput. The token array is a
    * multiply-referenced projected column, so the tokenizer runs once
    * per row, and the explode carries only (id, small int) alongside it.
    */
  def chunkByTokens(df: DataFrame, textCol: String, idCol: String,
                    maxTokens: Int, overlap: Int = 0): DataFrame = {
    require(maxTokens > 0, s"maxTokens must be positive, got $maxTokens")
    require(overlap >= 0 && overlap < maxTokens,
      s"overlap must be in [0, maxTokens), got $overlap")
    val step = maxTokens - overlap
    df.select(col(idCol).as("id"), expr(tokensExpr(textCol)).as("__toks"))
      .filter(size(col("__toks")) > 0)
      .withColumn("__n",
        expr(s"cast(ceil(greatest(size(__toks) - $overlap, 1) / $step.0) as int)"))
      .select(col("id"), col("__toks"),
        explode(expr("sequence(0, __n - 1)")).as("chunk_id"))
      .select(col("id"), col("chunk_id").cast("bigint").as("chunk_id"),
        expr(s"size(slice(__toks, chunk_id * $step + 1, $maxTokens))")
          .cast("bigint").as("n_tokens"),
        expr(s"array_join(slice(__toks, chunk_id * $step + 1, $maxTokens), ' ')")
          .as("chunk"))
  }

  /** Greedy sequence packing: assign chunks to token-budget bins — the
    * step after [[chunkByTokens]] that fills fixed-length training
    * contexts from variable-length pieces. Input must carry (id,
    * chunk_id, n_tokens); output appends `seq_id`, unique per packed
    * sequence.
    *
    * Packing is sequential by nature, so it runs greedy per BUCKET
    * (id mod nBuckets): one deterministic hash repartition, a
    * within-partition sort on (bucket, id, chunk_id), then a single
    * mapPartitions pass — the legitimate per-partition-imperative case,
    * no global order, no driver involvement. Deterministic: same input →
    * same packing. A chunk larger than the budget gets its own bin.
    * seq_id = bucket · 2³³ + bin — distinct while a bucket packs fewer
    * than 2³³ sequences (~17T tokens/bucket at 2k tokens/sequence);
    * exceeding that fails LOUDLY instead of silently colliding with the
    * next bucket's ids.
    */
  def packChunks(chunks: DataFrame, budgetTokens: Long,
                 nBuckets: Int = 1024): DataFrame = {
    require(budgetTokens > 0, s"budgetTokens must be positive, got $budgetTokens")
    require(nBuckets > 0 && nBuckets <= (1 << 30),
      s"nBuckets must be in [1, 2^30], got $nBuckets")
    // integral id required: pmod on a string/double id would promote
    // __bucket to double and the mapPartitions getLong would CCE after
    // the shuffle already ran
    require(Seq(ByteType, ShortType, IntegerType, LongType)
        .contains(chunks.schema("id").dataType),
      s"packChunks: id column must be integral " +
        s"(got ${chunks.schema("id").dataType.simpleString})")
    val withBucket = chunks
      .withColumn("__bucket", pmod(col("id"), lit(nBuckets.toLong)))
      .repartition(nBuckets, col("__bucket"))
      .sortWithinPartitions(col("__bucket"), col("id"), col("chunk_id"))
    val outSchema = withBucket.schema
      .add(org.apache.spark.sql.types.StructField("seq_id",
        org.apache.spark.sql.types.LongType, nullable = false))
    val bucketIdx = withBucket.schema.fieldIndex("__bucket")
    val tokIdx = withBucket.schema.fieldIndex("n_tokens")
    val packed = withBucket.mapPartitions { it =>
      var curBucket = -1L; var bin = 0L; var used = 0L
      it.map { r =>
        val b = r.getLong(bucketIdx); val n = r.getLong(tokIdx)
        if (b != curBucket) { curBucket = b; bin = 0L; used = 0L }
        else if (used + n > budgetTokens && used > 0) { bin += 1L; used = 0L }
        used += n
        if (bin >= (1L << 33)) throw new IllegalStateException(
          s"packChunks: bucket $b exceeded 2^33 sequences — raise nBuckets")
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ ((b << 33) + bin))
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
    packed.drop("__bucket")
  }

  /** C4-style heuristic quality rules per document — the standard cheap
    * pre-filter before model-based scoring. One boolean column per rule
    * plus the conjunction `keep`:
    *
    *   - `enough_words`       ≥ minWords whitespace tokens
    *   - `mean_word_len_ok`   mean token length in [minMeanLen, maxMeanLen]
    *   - `no_long_word`       longest token ≤ maxWordLen chars
    *   - `terminal_punct`     trimmed text ends in . ! ? or "
    *   - `no_blacklist`       contains none of `blacklist` (case-insensitive
    *                          substring match — C4 drops lorem ipsum /
    *                          javascript / curly braces)
    *
    * `keep` is the conjunction; `requireTerminalPunct = false` reports the
    * punctuation flag but excludes it from `keep` (the standard config for
    * non-prose corpora: code, tables, transcripts).
    *
    * Per-row expression work, shuffle-free — scan-throughput at any scale
    * (the token fold and length map are interpreted HOFs, each projected
    * ONCE per the hash-once contract; everything else is codegen'd).
    * Cross-engine exactness: mean word length is an exact-integer sum
    * divided once (IEEE division of identical operands is bit-identical
    * everywhere), so every rule boundary is exact — no float-margin
    * caveat. NULL text classifies as all-false flags (keep = false), not
    * NULL — a keep/reject partition must cover the whole corpus.
    */
  def c4Rules(df: DataFrame, textCol: String, idCol: String,
              minWords: Int = 5, minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
              maxWordLen: Int = 25,
              blacklist: Seq[String] = Seq("lorem ipsum", "javascript", "{"),
              requireTerminalPunct: Boolean = true): DataFrame = {
    // __meanlen is projected as a COLUMN so the interpreted token fold
    // runs once per row, not once per comparison referencing it
    val base = df.select(col(idCol).as("id"), col(textCol),
        expr(tokensExpr(textCol)).as("__toks"))
      .withColumn("__meanlen", expr(
        """CASE WHEN size(__toks) = 0 THEN 0.0
          |ELSE aggregate(__toks, 0L, (acc, t) -> acc + length(t))
          |     / cast(size(__toks) as double) END""".stripMargin))
    val maxLen = expr("coalesce(array_max(transform(__toks, t -> length(t))), 0)")
    // foldLeft, not reduce: an empty blacklist legitimately disables the
    // rule (always-true) instead of crashing at plan-build time
    val noBlack = blacklist
      .map(s => !contains(lower(col(textCol)), lit(s.toLowerCase)))
      .foldLeft(lit(true))(_ && _)
    // NULL text makes comparisons NULL (and some, like "no long word",
    // vacuously true) — classify the whole row as all-false instead so
    // keep/!keep partitions the corpus and no rule flags a missing doc
    def flag(c: Column) =
      coalesce(when(col(textCol).isNotNull, c), lit(false))
    base.select(
        col("id"),
        flag(size(col("__toks")) >= minWords).as("enough_words"),
        flag(col("__meanlen") >= minMeanLen && col("__meanlen") <= maxMeanLen)
          .as("mean_word_len_ok"),
        flag(maxLen <= maxWordLen).as("no_long_word"),
        // \z (absolute end), not $: Java's $ also matches BEFORE a final
        // newline, which RE2-based engines (the oracle) don't — a doc
        // ending ".\n" would flag true here and false there
        flag(expr(s"rtrim($textCol)").rlike("[.!?\"]\\z")).as("terminal_punct"),
        flag(noBlack).as("no_blacklist"))
      .withColumn("keep",
        col("enough_words") && col("mean_word_len_ok") && col("no_long_word") &&
          (if (requireTerminalPunct) col("terminal_punct") else lit(true)) &&
          col("no_blacklist"))
  }

  /** Gopher-style document quality rules (Rae et al. 2021, "Scaling
    * Language Models" §A1.1) — the second standard heuristic gate next to
    * [[c4Rules]], covering the signals C4 doesn't: symbol density, list
    * formatting, truncation markers, alphabetic-word share, and stopword
    * presence. One boolean per rule plus the conjunction `keep`:
    *
    *   - `word_count_ok`      token count in [minWords, maxWords]
    *   - `mean_word_len_ok`   mean token length in [minMeanLen, maxMeanLen]
    *   - `symbol_ratio_ok`    (# of `#` chars + `...` occurrences) / words
    *                          ≤ maxSymbolRatio
    *   - `bullet_ratio_ok`    share of lines starting with a bullet
    *                          (`-` `*` `•`) ≤ maxBulletRatio
    *   - `ellipsis_ratio_ok`  share of lines ending in `...`
    *                          ≤ maxEllipsisRatio
    *   - `alpha_ratio_ok`     share of tokens containing a letter
    *                          ≥ minAlphaRatio
    *   - `stopword_ok`        ≥ minStopwords tokens from `stopwords`
    *
    * Line ratios are over non-blank lines; a document with no non-blank
    * lines (or no tokens) passes the ratio rules vacuously but fails
    * `word_count_ok`, so `keep` still rejects it. NULL text classifies as
    * all-false (keep = false), never NULL — keep/reject must partition
    * the corpus (same contract as [[c4Rules]]).
    *
    * Per-row expression work, shuffle-free — scan throughput at any
    * scale. The token and line arrays are each projected ONCE per row
    * (hash-once contract); every count is an exact integer and every
    * ratio one IEEE division of exact integers, so rule boundaries are
    * bit-identical across engines — no float-margin caveat.
    */
  def gopherRules(df: DataFrame, textCol: String, idCol: String,
                  minWords: Int = 50, maxWords: Int = 100000,
                  minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
                  maxSymbolRatio: Double = 0.1,
                  maxBulletRatio: Double = 0.9,
                  maxEllipsisRatio: Double = 0.3,
                  minAlphaRatio: Double = 0.8,
                  minStopwords: Int = 2,
                  stopwords: Seq[String] = Seq("the", "be", "to", "of",
                    "and", "that", "have", "with")): DataFrame = {
    require(stopwords.forall(s => s.nonEmpty && !s.contains("'")),
      "gopherRules: stopwords must be non-empty and quote-free")
    val swList = stopwords.map(s => s"'${s.toLowerCase(java.util.Locale.ROOT)}'")
      .mkString("array(", ", ", ")")
    val base = df.select(col(idCol).as("id"), col(textCol),
        expr(tokensExpr(textCol)).as("__toks"),
        expr(s"filter(split($textCol, '\\n'), l -> trim(l) != '')").as("__lines"))
      .withColumn("__nw", size(col("__toks")).cast("long"))
      .withColumn("__nl", size(col("__lines")).cast("long"))
    // '#' chars plus '...' occurrences, both via length-delta (codegen'd;
    // the '...' delta is always divisible by 3, so the division is exact)
    val symbols =
      (length(col(textCol)) - length(regexp_replace(col(textCol), "#", ""))).cast("long") +
        ((length(col(textCol)) -
          length(regexp_replace(col(textCol), "\\.\\.\\.", ""))) / 3).cast("long")
    // a zero denominator passes the ratio rules vacuously: a token-less or
    // line-less doc is word_count_ok's job to reject, not a 0/0 NaN's
    def ratioLe(num: Column, den: Column, bound: Double) =
      den === 0L || num.cast("double") / den.cast("double") <= bound
    def ratioGe(num: Column, den: Column, bound: Double) =
      den === 0L || num.cast("double") / den.cast("double") >= bound
    val bullets = expr(
      "size(filter(__lines, l -> array_contains(array('-', '*', '•'), substring(ltrim(l), 1, 1))))")
      .cast("long")
    val ellipses = expr(
      "size(filter(__lines, l -> endswith(rtrim(l), '...')))").cast("long")
    val alphaToks = expr(
      "size(filter(__toks, t -> t rlike '[a-z]'))").cast("long")
    val stopToks = expr(
      s"size(filter(__toks, t -> array_contains($swList, t)))").cast("long")
    val meanLen = expr(
      """CASE WHEN size(__toks) = 0 THEN 0.0
        |ELSE aggregate(__toks, 0L, (acc, t) -> acc + length(t))
        |     / cast(size(__toks) as double) END""".stripMargin)
    def flag(c: Column) =
      coalesce(when(col(textCol).isNotNull, c), lit(false))
    base.select(
        col("id"),
        col("__nw").as("n_words"),
        flag(col("__nw") >= minWords && col("__nw") <= maxWords)
          .as("word_count_ok"),
        flag(meanLen >= minMeanLen && meanLen <= maxMeanLen)
          .as("mean_word_len_ok"),
        flag(ratioLe(symbols, col("__nw"), maxSymbolRatio)).as("symbol_ratio_ok"),
        flag(ratioLe(bullets, col("__nl"), maxBulletRatio)).as("bullet_ratio_ok"),
        flag(ratioLe(ellipses, col("__nl"), maxEllipsisRatio))
          .as("ellipsis_ratio_ok"),
        flag(ratioGe(alphaToks, col("__nw"), minAlphaRatio)).as("alpha_ratio_ok"),
        flag(stopToks >= minStopwords).as("stopword_ok"))
      .withColumn("keep",
        col("word_count_ok") && col("mean_word_len_ok") &&
          col("symbol_ratio_ok") && col("bullet_ratio_ok") &&
          col("ellipsis_ratio_ok") && col("alpha_ratio_ok") &&
          col("stopword_ok"))
  }

  /** One-call enrichment producing all text-analysis columns. The token
    * array is projected ONCE (`__toks`); every metric then references the
    * materialized column — CollapseProject keeps the projection because the
    * producing expression is non-cheap and multiply-referenced, so the
    * regex tokenizer runs exactly once per row.
    */
  def enrich(df: DataFrame, textCol: String): DataFrame = {
    val toks = "__toks"
    df.withColumn(toks, expr(tokensExpr(textCol)))
      .withColumn("token_count", tokenCountOf(toks))
      .withColumn("subword_count", subwordCountEstimateOf(toks))
      .withColumn("lang_pred", langIdCol(col(toks)))
      .withColumn("quality", qualityScoreOf(textCol, toks))
      .withColumn("fingerprint", fingerprintMd5(textCol))
      .drop(toks)
  }

  /** Extension (training-data pipeline): corpus-frequency boilerplate
    * scoring (the CCNet/RefinedWeb idea): an n-gram recurring across
    * many documents is boilerplate — nav bars, license blurbs, headers —
    * and a document whose shingles are mostly corpus-common is
    * boilerplate-heavy. Shingles come from [[Dedup.shingleExpr]]
    * (distinct per doc, so within-doc repetition never inflates df —
    * that's [[repetitionMetrics]]' job). Two hash-partitioned
    * aggregations — shingle→df, then doc→ratio — and one shingle-keyed
    * join; never all-pairs, so the cost is O(corpus shingles), not
    * O(docs²). Documents too short to shingle keep a row with ratio 0
    * (COVER-the-corpus contract, same as c4Rules/hashedTokenFeatures).
    * Output: (id, n_shingles, n_common, boiler_ratio, keep).
    */
  /** Corpus-frequency LINE filtering — the classic web-corpus cleanup
    * that [[boilerplateScore]] only scores: a line whose trimmed form
    * appears in more than `dfThreshold` distinct documents is
    * boilerplate (nav bars, cookie banners, copyright footers) and is
    * REMOVED from the text; the document survives with its remaining
    * lines in original order. Empty/whitespace-only lines are kept
    * verbatim and never counted (they are structure, not content). A
    * NULL text is treated as the empty string (r17, advice), so every
    * input id yields an output row: (id, "", 1, 0) — previously a NULL
    * text silently dropped its document, contradicting this contract.
    * Output: (id, text_clean, n_lines, n_dropped).
    *
    * Scale shape (r17, verdict ask #7): the line explode stays in its
    * scan partition; the frequency aggregate exchanges only (id,
    * xxhash64(trimmed)) pairs — 16 B rows, no string keys — and the
    * over-threshold hash SET (one 8 B key per boilerplate line — by
    * construction at most total-line-occurrences / dfThreshold
    * distinct values, MBs even at corpus scale) broadcasts back onto
    * the payload, which therefore NEVER shuffles by line text; the
    * hottest keys are exactly the banner lines this operator targets,
    * so a text-keyed join would skew onto single partitions (r16
    * advice). The rewrite regroups (id, pos, line) once — the one
    * payload-sized shuffle a line-level REWRITE inherently needs.
    * Drop decisions compare 64-bit hashes: a collision between a rare
    * line and a boilerplate line (P ≈ 2⁻⁶⁴ per pair) would drop the
    * rare line — the standard CCNet-class tradeoff, accepted for the
    * 8-byte exchange keys.
    */
  def dropCommonLines(df: DataFrame, textCol: String, idCol: String,
                      dfThreshold: Long = 10L): DataFrame = {
    require(dfThreshold >= 1, s"dfThreshold must be >= 1, got $dfThreshold")
    val lines = df.select(col(idCol).as("id"),
        posexplode(split(coalesce(col(textCol), lit("")), "\n"))
          .as(Seq("pos", "line")))
      .withColumn("__t", trim(col("line")))
    val freq = lines.filter(col("__t") =!= "")
      .select(col("id"), xxhash64(col("__t")).as("__k")).distinct()
      .groupBy("__k").agg(count(lit(1)).as("__df"))
    val common = broadcast(freq.filter(col("__df") > dfThreshold).select("__k"))
    lines.join(common, xxhash64(col("__t")) === col("__k"), "left")
      .withColumn("__drop", col("__t") =!= "" && col("__k").isNotNull)
      .groupBy("id")
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("__drop"), 1L).otherwise(0L)).as("n_dropped"),
        array_join(transform(array_sort(collect_list(
            when(!col("__drop"), struct(col("pos"), col("line"))))),
          s => s.getField("line")), "\n").as("text_clean"))
      .select(col("id"), col("text_clean"), col("n_lines"), col("n_dropped"))
  }

  /** Corpus-wide FIRST-OCCURRENCE paragraph dedup (r17): every
    * paragraph (blank-line-separated block) survives only in the
    * lexicographically-first (id, pos) document position where it
    * appears corpus-wide — the exact-substring dedup of Lee et al.
    * 2021 ("Deduplicating Training Data Makes Language Models Better",
    * public knowledge) at paragraph granularity. Complements
    * [[dropCommonLines]] (which drops over-threshold lines EVERYWHERE):
    * here the content is kept exactly once. Paragraphs that trim to ''
    * never participate and never emit; a doc whose every paragraph is
    * dropped still emits its row with empty `text_clean` (the
    * dropCommonLines row-survival contract). Output: (id, text_clean,
    * n_paras, n_dropped).
    *
    * Scale shape (the t29 discipline): winner election runs over a
    * SLIM (id, pos, xxhash64) projection — the min-struct aggregate is
    * map-side combinable and the winner join is slim-vs-slim, so a
    * boilerplate paragraph in millions of docs costs 16-byte rows on
    * its hash partition, never text; paragraph text rides only the
    * (id, pos)-keyed flag attach and the per-doc rebuild — the one
    * payload shuffle a rewrite inherently needs. Drop decisions
    * compare 64-bit hashes (P ≈ 2⁻⁶⁴ collisions accepted, the t29
    * trade).
    */
  def dropDuplicateParagraphs(df: DataFrame, textCol: String,
                              idCol: String): DataFrame = {
    val paras = df.select(col(idCol).as("id"),
        posexplode(split(coalesce(col(textCol), lit("")), "\n{2,}"))
          .as(Seq("pos", "para")))
      .withColumn("__t", trim(col("para")))
    val slim = paras.filter(col("__t") =!= "")
      .select(col("id"), col("pos"), xxhash64(col("__t")).as("__k"))
    val winners = slim.groupBy("__k")
      .agg(min(struct(col("id"), col("pos"))).as("__w"))
    val flags = slim.join(winners, "__k")
      .select(col("id"), col("pos"),
        (struct(col("id"), col("pos")) === col("__w")).as("__keep"))
    df.select(col(idCol).as("id")).distinct()
      .join(paras.filter(col("__t") =!= "")
        .join(flags, Seq("id", "pos")), Seq("id"), "left")
      .groupBy("id")
      .agg(
        array_join(transform(array_sort(collect_list(
            when(col("__keep"), struct(col("pos"), col("para"))))),
          s => s.getField("para")), "\n\n").as("text_clean"),
        coalesce(count(col("pos")), lit(0L)).as("n_paras"),
        coalesce(sum(when(!col("__keep"), 1L).otherwise(0L)), lit(0L))
          .as("n_dropped"))
  }

  def boilerplateScore(df: DataFrame, textCol: String, idCol: String,
                       dfThreshold: Long = 5L, maxRatio: Double = 0.5,
                       n: Int = 3): DataFrame = {
    require(dfThreshold >= 1, s"dfThreshold must be >= 1, got $dfThreshold")
    val pairs = df.select(col(idCol).as("id"),
      explode(Dedup.shingleExpr(textCol, n)).as("__sh"))
    val shingleDf = pairs.groupBy("__sh").agg(count(lit(1)).as("__df"))
    val scored = pairs.join(shingleDf, "__sh")
      .groupBy("id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("__df") > dfThreshold, 1L).otherwise(0L)).as("n_common"))
    df.select(col(idCol).as("id")).join(scored, Seq("id"), "left_outer")
      .select(col("id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_common"), lit(0L)).as("n_common"))
      .withColumn("boiler_ratio",
        when(col("n_shingles") === 0, lit(0.0))
          .otherwise(col("n_common").cast("double") / col("n_shingles")))
      .withColumn("keep", col("boiler_ratio") <= maxRatio)
  }

  /** Curriculum / stratified-shuffle training order: bucket each doc by
    * `scoreCol` against ascending `cutoffs` (bucket = number of cutoffs
    * strictly below the score), pseudo-randomly order WITHIN each bucket
    * by the portable fold of the id (deterministic: a retried stage and
    * a rerun produce the same order), and interleave buckets round-robin
    * into the global order key `ord = pos · nBuckets + bucket` — so any
    * contiguous training window sees the full quality distribution
    * instead of a quality-sorted corpus's drift.
    *
    * Scale shape: bucket assignment is a codegen'd array probe (the
    * cutoff list is a config-sized literal — compute it once with
    * `Stats.quantiles` sketch mode at corpus scale, exact at gate).
    * Within-bucket positions use the mixtureSample two-pass shape, NOT
    * one window per bucket (nBuckets is tiny, so that window would pull
    * ~1/nBuckets of the corpus through a single task): the fold's value
    * space is range-split into `subBuckets` monotone sub-buckets; pass 1
    * counts rows per (bucket, sub-bucket) — one partial-agg shuffle of a
    * config-sized table — and prefix-sums those counts into per-cell
    * offsets; pass 2 ranks within each (bucket, sub-bucket) cell (a
    * window with nBuckets·subBuckets partitions) and adds the broadcast
    * offset. Sub-bucket index is monotone in the fold and fold ties
    * share a cell, so the result is IDENTICAL to the naive one-window-
    * per-bucket order (PipelineSpec asserts this). Rows with a NULL or
    * NaN score are dropped — an unscoreable doc has no curriculum slot.
    * (NaN needs its own filter: `na.drop` only removes NULLs, and under
    * Spark's ordering NaN > every numeric, so a NaN-scored doc would
    * otherwise pass every cutoff and land in the TOP quality bucket.)
    */
  def curriculumOrder(df: DataFrame, scoreCol: String, idCol: String,
                      cutoffs: Seq[Double], subBuckets: Int = 4096): DataFrame = {
    require(cutoffs.nonEmpty, "curriculumOrder: need at least one cutoff")
    require(cutoffs == cutoffs.sorted && cutoffs.distinct == cutoffs,
      s"cutoffs must be strictly ascending, got $cutoffs")
    require(subBuckets > 0, s"subBuckets must be positive, got $subBuckets")
    val nBuckets = cutoffs.length + 1
    // portableFold lands in [0, prime); ceil-divide so __sb < subBuckets
    val prime = 1000000007L
    val sbWidth = (prime + subBuckets - 1) / subBuckets
    val base = df.na.drop(Seq(scoreCol))
      .filter(!isnan(col(scoreCol).cast("double")))
      .select(col(idCol).as("id"), col(scoreCol).cast("double").as("score"))
      .withColumn("bucket", size(filter(
        array(cutoffs.map(lit(_)): _*), c => col("score") > c)).cast("int"))
      .withColumn("__h", Dedup.portableFold(col("id").cast("string")))
      .withColumn("__sb", (col("__h") / sbWidth).cast("int"))
    val counts = base.groupBy("bucket", "__sb").agg(count(lit(1)).as("__c"))
    val offW = org.apache.spark.sql.expressions.Window
      .partitionBy("bucket").orderBy("__sb")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val offsets = counts
      .withColumn("__off", coalesce(sum(col("__c")).over(offW), lit(0L)))
      .select("bucket", "__sb", "__off")
    val cellW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bucket"), col("__sb"))
      .orderBy(col("__h"), col("id"))
    base.join(broadcast(offsets), Seq("bucket", "__sb"))
      .withColumn("pos", (col("__off") + row_number().over(cellW) - 1).cast("long"))
      .withColumn("ord", col("pos") * nBuckets + col("bucket"))
      .select("id", "score", "bucket", "pos", "ord")
  }

  /** Corpus mixing to a token budget — the data-mixture step of a
    * training-data pipeline: per source s with weight w, keep a
    * deterministic pseudo-random sample of docs whose token counts fill
    * `floor(totalTokens · w)`. Selection = the prefix of the source's
    * docs in (portableFold(id:salt), id) order whose running token sum
    * stays within the source budget — a pure function of the data, so
    * re-runs and both engines agree row-for-row. Sources absent from
    * `weights` are dropped (weight 0).
    *
    * Scale shape (the reason this is NOT one window per source — a
    * source at 100 TB is terabytes through a single task): the hash
    * order is bucketed (`nBuckets` ranges of the fold's value space);
    * pass 1 aggregates token sums per (source, bucket) — one
    * partial-agg shuffle of sources×nBuckets rows — and a driver prefix
    * scan over that config-sized table finds each source's boundary
    * bucket and remaining budget. Pass 2 keeps pre-boundary buckets
    * with a broadcast map lookup (no shuffle) and resolves ONLY the
    * boundary bucket — expected 1/nBuckets of each source — with a
    * window. Result is identical to the naive single-window prefix
    * (bucket index is monotone in the hash; hash ties share a bucket),
    * which PipelineSpec asserts.
    *
    * Returns the kept rows plus `n_tokens`.
    */
  def mixtureSample(df: DataFrame, textCol: String, idCol: String,
                    sourceCol: String, weights: Map[String, Double],
                    totalTokens: Long, salt: String = "mix",
                    nBuckets: Int = 1024): DataFrame = {
    requireMixArgs(weights, totalTokens, nBuckets)
    val budgets = weights.map { case (s, w) => s -> math.floor(totalTokens * w).toLong }
    val base = mixBase(df, textCol, idCol, sourceCol, weights.keys.toSeq, salt, nBuckets)
    prefixByBudget(base, collectSums(base, sourceCol), idCol, sourceCol,
      budgets, nBuckets)
      .drop("__h", "__b")
  }

  /** [[mixtureSample]]'s upsampling twin: a source whose budget EXCEEDS
    * its token total is REPEATED — `budget_s / total_s` full epochs plus
    * a prefix-sampled partial epoch with the remainder (the standard
    * data-mixture treatment of small high-quality sources). Output adds
    * `epoch` (0-based repeat index); downstream epoch-aware shuffles
    * ([[graft.operators.Views.deterministicShuffle]] salted per epoch)
    * keep the repeats from clustering. Same determinism and scale shape
    * as mixtureSample: the per-source token totals are one partial-agg
    * aggregate (sources rows to the driver), full epochs are a
    * broadcast-map explode (no shuffle), and only the partial-epoch
    * boundary bucket sees a window.
    */
  def mixtureUpsample(df: DataFrame, textCol: String, idCol: String,
                      sourceCol: String, weights: Map[String, Double],
                      totalTokens: Long, salt: String = "mix",
                      nBuckets: Int = 1024): DataFrame = {
    requireMixArgs(weights, totalTokens, nBuckets)
    val budgets = weights.map { case (s, w) => s -> math.floor(totalTokens * w).toLong }
    val base = mixBase(df, textCol, idCol, sourceCol, weights.keys.toSeq, salt, nBuckets)
    // source totals fold out of the SAME bucket sums pass 1 already
    // collected — no second corpus aggregate
    val sums = collectSums(base, sourceCol)
    val totals = sums.map { case (s, bs) => s -> bs.map(_._2).sum }
    val fullEpochs = budgets.map { case (s, b) =>
      val tot = totals.getOrElse(s, 0L)
      val k = if (tot > 0) b / tot else 0L
      // loud failure instead of silent Int wrap (r14 review): a tiny
      // source against a huge budget can demand billions of epochs —
      // that is a mis-specified mixture, not something to truncate
      require(k <= Int.MaxValue,
        s"mixtureUpsample: source '$s' needs $k full epochs " +
          s"(budget $b over $tot tokens) — exceeds the supported range; " +
          s"check the weight/totalTokens spec")
      s -> k.toInt
    }
    val remBudgets = budgets.map { case (s, b) =>
      s -> (b - fullEpochs(s).toLong * totals.getOrElse(s, 0L))
    }
    val fullOf = typedLit(fullEpochs)
    // guarded sequence: Spark's sequence(0, -1) would generate a
    // DESCENDING [0,-1] instead of an empty epoch list
    val k = fullOf(col(sourceCol))
    val full = base.withColumn("epoch",
        explode(when(k > 0, sequence(lit(0), k - 1))
          .otherwise(array().cast("array<int>"))))
      .withColumn("epoch", col("epoch").cast("bigint"))
    val partial = prefixByBudget(base, sums, idCol, sourceCol, remBudgets, nBuckets)
      .withColumn("epoch", k.cast("bigint"))
    full.unionByName(partial).drop("__h", "__b")
  }

  private def requireMixArgs(weights: Map[String, Double], totalTokens: Long,
                             nBuckets: Int): Unit = {
    require(weights.nonEmpty, "mixture: need at least one source weight")
    require(weights.values.forall(_ > 0),
      "mixture: weights must be positive (omit a source to drop it)")
    require(totalTokens > 0, s"totalTokens must be positive, got $totalTokens")
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
  }

  /** Shared mixing base: source filter + token counts + portable hash +
    * hash bucket — localCheckpoint'd (eager) because every caller scans
    * it 2–4 times (pass-1 sums, kept buckets, boundary window, epoch
    * explode); one materialization of the filtered corpus beats 3–5
    * re-tokenization passes (the Dedup candidate-set discipline), and
    * checkpoint blocks release with the plan, no explicit unpersist.
    */
  private def mixBase(df: DataFrame, textCol: String, idCol: String,
                      sourceCol: String, sources: Seq[String], salt: String,
                      nBuckets: Int): DataFrame = {
    val prime = 1000000007L
    val width = math.max(1L, prime / nBuckets + 1)
    df.filter(col(sourceCol).isin(sources: _*))
      .withColumn("n_tokens", tokenCount(textCol))
      .withColumn("__h", graft.pipeline.Dedup.portableFold(
        concat(col(idCol).cast("string"), lit(":"), lit(salt))))
      .withColumn("__b", (col("__h") / lit(width)).cast("int"))
      .localCheckpoint()
  }

  /** Pass 1: per-source bucket token sums, ordered by bucket —
    * sources×nBuckets rows to the driver (config-sized at any data
    * scale, like IVF centroids).
    */
  private def collectSums(base: DataFrame,
                          sourceCol: String): Map[String, Array[(Int, Long)]] =
    base.groupBy(col(sourceCol).as("__s"), col("__b"))
      .agg(sum(col("n_tokens")).as("__t"))
      .collect()
      .groupBy(_.getAs[String]("__s"))
      .map { case (s, rows) =>
        s -> rows.map(r => r.getAs[Int]("__b") -> r.getAs[Long]("__t")).sortBy(_._1)
      }

  /** The bucketed two-pass prefix selection over `base` (must carry
    * `n_tokens`, `__h`, `__b`; `sums` = [[collectSums]] of it): keep
    * each source's (hash, id)-ordered prefix whose running token sum
    * stays within its budget. See [[mixtureSample]] for the scale
    * rationale.
    */
  private def prefixByBudget(base: DataFrame, sums: Map[String, Array[(Int, Long)]],
                             idCol: String, sourceCol: String,
                             budgets: Map[String, Long], nBuckets: Int): DataFrame = {
    // driver prefix scan: per source, the first bucket where the budget
    // is crossed + the budget remaining when entering it
    val cuts = budgets.map { case (s, budget) =>
      var rem = budget
      var boundary = nBuckets // budget covers everything → no boundary
      sums.getOrElse(s, Array.empty[(Int, Long)]).iterator
        .takeWhile(_ => boundary == nBuckets)
        .foreach { case (b, t) =>
          if (t > rem) boundary = b else rem -= t
        }
      s -> (boundary, rem)
    }
    val boundaryOf = typedLit(cuts.map { case (s, (b, _)) => s -> b })
    val remOf = typedLit(cuts.map { case (s, (_, r)) => s -> r })
    val keepWhole = base.filter(col("__b") < boundaryOf(col(sourceCol)))
    // boundary bucket: expected 1/nBuckets of a source through the
    // window — bounded regardless of source size
    val wdw = org.apache.spark.sql.expressions.Window
      .partitionBy(col(sourceCol)).orderBy(col("__h"), col(idCol))
    val keepBoundary = base.filter(col("__b") === boundaryOf(col(sourceCol)))
      .withColumn("__cum", sum(col("n_tokens")).over(wdw))
      .filter(col("__cum") <= remOf(col(sourceCol)))
      .drop("__cum")
    keepWhole.unionByName(keepBoundary)
  }

  // =====================================================================
  // BPE tokenizer training (extension — tokenizer training IS the
  // canonical corpus-scale job a training-data engine exists for)
  // =====================================================================

  /** Train `nMerges` byte-pair-encoding merges over the corpus.
    *
    * Algorithm (Sennrich et al. 2016, the standard greedy trainer):
    * start from per-character symbol sequences of each distinct word;
    * each round counts adjacent symbol pairs weighted by word frequency,
    * merges the globally most frequent pair everywhere (greedy
    * left-to-right within a word), and repeats. Deterministic tie-break:
    * max count, then lexicographically smallest (left, right).
    *
    * Scale shape: the corpus is tokenized and reduced to DISTINCT word
    * frequencies ONCE (the only corpus-scale shuffle). Every round then
    * runs over the vocabulary table only — pair explode + partial-agg
    * count (shuffled bytes O(distinct pairs)), a 1-row argmax to the
    * driver (the algorithm's inherent sync point), and a codegen'd
    * `aggregate` HOF rewrite of the symbol arrays. `localCheckpoint`
    * every few rounds cuts the growing lineage.
    *
    * Symbol alphabets (the `byteLevel` switch):
    *   - alphabetic (default false, the fast path): only words matching
    *     `^[a-z]+$` participate, symbols are the characters. Digits,
    *     punctuation, and non-Latin text are silently excluded — fine
    *     for English-prose corpora, wrong for real multilingual ones.
    *   - byte-level (true — what a production tokenizer trains): EVERY
    *     whitespace token participates, CASE PRESERVED ([[rawTokensExpr]]
    *     — 'A' and 'a' are different bytes a real vocabulary must both
    *     cover); symbols are the word's UTF-8
    *     bytes, each rendered as its 2-char uppercase hex pair (merged
    *     symbols concatenate to longer hex strings). Hex keeps every
    *     symbol printable, unambiguous, and pure-ASCII, so vocabularies
    *     round-trip any engine/storage byte-exactly — the same reason
    *     GPT-2 remaps bytes to printable unicode, minus the custom
    *     alphabet table. Decode for display with [[bpeDecodeHex]].
    *
    * Returns (merge_rank, lhs, rhs, merged, pair_freq) — merge_rank is merge
    * order, the tokenizer's vocabulary file.
    */
  def bpeTrain(df: DataFrame, textCol: String, nMerges: Int,
               minFreq: Long = 2L, byteLevel: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    require(nMerges >= 1, "nMerges must be >= 1")
    val toks = df.selectExpr(
      s"explode(${if (byteLevel) rawTokensExpr(textCol) else tokensExpr(textCol)}) AS w")
    val words = (if (byteLevel) toks else toks.filter(col("w").rlike("^[a-z]+$")))
      .groupBy("w").agg(count(lit(1)).as("freq"))
    var cur = words.select(
      (if (byteLevel) byteSyms(col("w")) else split(col("w"), "")).as("syms"),
      col("freq"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    var rank = 0
    var done = false
    // the finally releases whichever round frame is live when the loop
    // ends — normally the last round, but also the in-flight one when a
    // mid-training action throws (r15 persist audit)
    try while (rank < nMerges && !done) {
      val best = cur
        .select(explode(arrays_zip(
          slice(col("syms"), lit(1), size(col("syms")) - 1).as("l"),
          slice(col("syms"), lit(2), size(col("syms")) - 1).as("r"))).as("p"), col("freq"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("freq").as("n"))
        .orderBy(col("n").desc, col("l"), col("r"))
        .limit(1).collect()
      if (best.isEmpty || best.head.getLong(2) < minFreq) done = true
      else {
        val (a, b, n) = (best.head.getString(0), best.head.getString(1), best.head.getLong(2))
        out += ((rank, a, b, a + b, n))
        val next = cur.withColumn("syms", mergePair(col("syms"), a, b))
        // localCheckpoint EVERY round (eager: materialized before the
        // parent drops). A persist()-only round would keep a lineage
        // edge back into `cur`: once `cur`'s checkpoint blocks are
        // released, any lost persist block would recompute into a
        // lineage-cut, unpersisted RDD and fail the job — so every
        // round cuts lineage, and releasing the superseded round is
        // always safe (nothing live can recompute through it). The
        // flat lineage also keeps Catalyst analysis O(1) per round
        // instead of growing the tree across 2000 merges.
        val mat = next.localCheckpoint(eager = true)
        graft.core.Checkpoints.release(cur)
        cur = mat
        rank += 1
      }
    }
    finally graft.core.Checkpoints.release(cur)
    import spark.implicits._
    out.toSeq.toDF("merge_rank", "lhs", "rhs", "merged", "pair_freq")
  }

  /** Greedy left-to-right merge of adjacent (a, b) in a symbol array —
    * the BPE rewrite step as a codegen'd `aggregate` HOF: fold elements,
    * replacing a trailing `a` with `a+b` when `b` arrives. A merged
    * token never re-merges within the same round ("aaa" + (a,a) →
    * [aa, a], the standard semantics).
    */
  def mergePair(syms: Column, a: String, b: String): Column =
    aggregate(syms,
      lit(Array.empty[String]),
      (acc, x) => when(
        try_element_at(acc, lit(-1)) === lit(a) && x === lit(b),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(x))))

  /** Byte-level BPE symbols of a word: its UTF-8 bytes as 2-char
    * uppercase hex pairs. Codegen'd; DuckDB replays it verbatim as
    * `regexp_extract_all(hex(w), '..')` (both engines hex the UTF-8
    * bytes uppercase and scan the pair regex left-to-right).
    */
  def byteSyms(w: Column): Column =
    regexp_extract_all(hex(encode(w, "UTF-8")), lit(".."), lit(0))

  /** Persist a trained merge table (the tokenizer artifact) as parquet.
    * Tiny (nMerges rows) — one file, so the artifact is a single
    * portable object next to the corpus it tokenizes.
    */
  def bpeSave(merges: DataFrame, path: String): Unit =
    merges.coalesce(1).write.mode("overwrite").parquet(path)

  /** Load a saved merge table back into the driver-side (lhs, rhs) list
    * [[bpeEncode]] takes — vocab-sized config data, not corpus data.
    */
  def bpeLoad(spark: org.apache.spark.sql.SparkSession,
              path: String): Seq[(String, String)] =
    spark.read.parquet(path).orderBy("merge_rank").collect()
      .map(r => (r.getAs[String]("lhs"), r.getAs[String]("rhs"))).toSeq

  /** Display helper for byte-level tokens: hex → string. Tokens that
    * split a multi-byte UTF-8 sequence decode with replacement chars —
    * display-only; the hex form is the canonical token identity.
    */
  def bpeDecodeHex(toks: Column): Column =
    transform(toks, t => decode(unhex(t), "UTF-8"))

  /** Encode text with trained merges: apply each merge in rank order to
    * every word (the inference half of [[bpeTrain]] — same greedy
    * rewrite, same symbol alphabet as training, selected by
    * `byteLevel`). Alphabetic mode passes non-`^[a-z]+$` words through
    * as single OOV tokens; byte-level mode has no OOV — every word is
    * byte-decomposable, the property that makes the mode production-
    * shaped. `merges` is the (lhs, rhs) pairs as
    * returned by [[bpeTrain]], collected to the driver (vocab-size,
    * config data) and composed into ONE chained codegen expression —
    * no join, no shuffle: encoding is embarrassingly parallel.
    */
  def bpeEncode(df: DataFrame, textCol: String, merges: Seq[(String, String)],
                outCol: String = "bpe_tokens", byteLevel: Boolean = false): DataFrame =
    df.withColumn(outCol,
      flatten(transform(
        expr(if (byteLevel) rawTokensExpr(textCol) else tokensExpr(textCol)), w =>
        if (byteLevel)
          merges.foldLeft(byteSyms(w)) { case (syms, (a, b)) => mergePair(syms, a, b) }
        else
          when(w.rlike("^[a-z]+$"),
            merges.foldLeft(split(w, "")) { case (syms, (a, b)) => mergePair(syms, a, b) })
            .otherwise(array(w)))))

  /** [[bpeEncode]] for PRODUCTION-SIZED vocabularies. The expression
    * form compiles `nMerges` nested `aggregate` HOFs into one Catalyst
    * tree — ideal codegen at gate-size vocabularies, but a 32 000-merge
    * tokenizer would blow the expression tree (and the generated method)
    * far past JIT limits. This variant runs the IDENTICAL greedy
    * semantics as a tight per-partition loop: merges ship once per
    * executor as broadcast config (vocab-sized, never corpus-sized),
    * each word folds every merge in rank order with the same
    * last-element/no-re-merge rule, and a per-word symbol-presence set
    * skips the (vast majority of) merge rounds whose operands cannot
    * occur. No join, no shuffle — encoding stays embarrassingly
    * parallel; BpeSpec pins output equality with [[bpeEncode]] in both
    * alphabets.
    */
  def bpeEncodeAtScale(df: DataFrame, textCol: String,
                       merges: Seq[(String, String)],
                       outCol: String = "bpe_tokens",
                       byteLevel: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    val bMerges = spark.sparkContext.broadcast(merges.toArray)
    val enc = org.apache.spark.sql.functions.udf { (text: String) =>
      if (text == null) null
      else {
        val ms = bMerges.value
        val words = text
        val toks =
          (if (byteLevel) words else words.toLowerCase(java.util.Locale.ROOT))
            .split("\\s+").iterator.filter(_.nonEmpty)
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        toks.foreach { w =>
          val alpha = !byteLevel && w.forall(c => c >= 'a' && c <= 'z')
          if (!byteLevel && !alpha) out += w // OOV passes through whole
          else {
            var syms: Array[String] =
              if (byteLevel) w.getBytes(java.nio.charset.StandardCharsets.UTF_8)
                .map(b => f"${b & 0xFF}%02X")
              else w.map(_.toString).toArray
            val present = scala.collection.mutable.HashSet.empty[String]
            syms.foreach(present += _)
            var i = 0
            while (i < ms.length) {
              val (a, b) = ms(i)
              if (present.contains(a) && present.contains(b)) {
                // one greedy left-to-right pass, merged output never
                // re-merges within the pass (the mergePair fold rule)
                val buf = new scala.collection.mutable.ArrayBuffer[String](syms.length)
                var applied = false
                syms.foreach { x =>
                  if (buf.nonEmpty && buf.last == a && x == b) {
                    buf(buf.length - 1) = a + b; applied = true
                  } else buf += x
                }
                if (applied) { syms = buf.toArray; present += (a + b) }
                // `present` stays a superset when operands are consumed —
                // a stale entry only costs an identity pass, never a wrong merge
              }
              i += 1
            }
            out ++= syms
          }
        }
        out.toSeq
      }
    }
    df.withColumn(outCol, enc(col(textCol)))
  }

  /** Per-source dataset datasheet — the "data card" every corpus release
    * ships with, as one query: document and token counts, exact-dup
    * volume, quality-gate pass count, dominant language and language
    * spread, per `sourceCol`. All metrics are integer counts (or an
    * argmax over them), so the report is bit-identical across engines —
    * no cross-engine float-summation hazard.
    *
    * Scale shape: ONE corpus-sized shuffle, on (source, fingerprint) —
    * the same 16-byte-key aggregate exact dedup pays — carrying three
    * longs and a language tag; everything downstream (per-source rollup,
    * language mix, argmax) aggregates source- or (source × lang)-
    * cardinality frames. The fingerprint determines the normalized text,
    * hence the token list, hence the language — so per-fingerprint
    * `min(lang)` is exact, not an approximation; quality keeps raw-text
    * punctuation structure, so it is counted per doc BEFORE the group.
    *
    * Output: (source, n_docs, n_tokens, n_dup_docs, n_quality_hi,
    * top_lang, n_langs); `n_dup_docs` counts docs beyond the first of
    * each fingerprint, `n_quality_hi` docs with quality ≥ `qualityMin`,
    * `top_lang` breaks count ties toward the smallest language tag.
    */
  def datacard(df: DataFrame, textCol: String, idCol: String,
               sourceCol: String, qualityMin: Double = 0.5): DataFrame = {
    val base = df.na.drop(Seq(idCol))
      .select(col(sourceCol).as("source"),
        fingerprintMd5(textCol).as("__fp"),
        tokenCount(textCol).as("__tc"),
        langId(textCol).as("__lang"),
        qualityScore(textCol).as("__q"))
    val g = base.groupBy("source", "__fp")
      .agg(count(lit(1)).as("n"), sum("__tc").as("tok"),
        sum(when(col("__q") >= qualityMin, 1L).otherwise(0L)).as("hi"),
        min("__lang").as("lang"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val per = g.groupBy("source").agg(
        sum("n").as("n_docs"), sum("tok").as("n_tokens"),
        (sum("n") - count(lit(1))).as("n_dup_docs"),
        sum("hi").as("n_quality_hi"))
      val lc = g.groupBy("source", "lang").agg(sum("n").as("ln"))
      // argmax(lang count), ties → smallest lang: min over (−count, lang)
      val top = lc.groupBy("source").agg(
        min(struct((-col("ln")).as("nl"), col("lang").as("lang"))).as("__w"),
        count(lit(1)).as("n_langs"))
        .select(col("source").as("__ts"), col("__w.lang").as("top_lang"), col("n_langs"))
      // null-safe join: groupBy keeps a NULL-source group, and a plain
      // equi-join would silently drop it from the report — the exact
      // undercount a datasheet exists to prevent (r14 review)
      per.join(top, col("source") <=> col("__ts")).drop("__ts").localCheckpoint()
    } finally g.unpersist(blocking = false)
  }

  /** Per-document n-gram novelty against the PRECEDING corpus in
    * `idCol` order: the share of a doc's distinct word 3-gram shingles
    * whose FIRST occurrence (minimum doc id over the whole corpus) is
    * this doc. Novelty 1.0 = all-new content; 0.0 = every shingle
    * already appeared in an earlier doc — the corpus-level "how much of
    * this is recycled boilerplate" signal that per-pair dedup (d02/d04)
    * doesn't give, because it scores each doc against EVERYTHING prior,
    * not against its nearest neighbor.
    *
    * Shape at scale: the postings frame (doc, shingle) is aggregated
    * twice — by doc (map-side combined count) and by shingle (the same
    * big shuffle every dedup op here pays) — then the two DOC-cardinality
    * frames join; the postings themselves are never joined back, so the
    * expensive side is shuffled once per aggregate and nothing is
    * re-scanned. `hashShingles = true` (default) ships 8-byte xxhash64
    * keys through the shingle shuffle instead of strings (the d02/t04
    * trade: identical-absent-collision at 64 bits); `false` keeps raw
    * strings for engine-portable runs (the t22 oracle).
    *
    * Rows with a NULL text or id are excluded by contract (they have no
    * position in the id order). Output: (doc_id, n_shingles,
    * novel_shingles, novelty), one row per surviving doc.
    */
  def ngramNovelty(df: DataFrame, textCol: String, idCol: String,
                   hashShingles: Boolean = true): DataFrame = {
    val base = df.na.drop(Seq(textCol, idCol))
    // per-doc totals come straight off the scan projection (the shingle
    // array is never empty — <3 tokens collapse to one whole-text
    // shingle), so only the first-occurrence side pays the explode and
    // the by-shingle shuffle; the input is read twice, but the second
    // read projects two columns and shuffles nothing
    val totals = base.select(col(idCol).as("doc_id"),
      size(Dedup.shingleExpr(textCol, 3)).cast("long").as("n_shingles"))
    val shRaw = explode(Dedup.shingleExpr(textCol, 3)).as("sh_raw")
    val posts = base
      .select(col(idCol).as("doc_id"), shRaw)
      .select(col("doc_id"),
        (if (hashShingles) xxhash64(col("sh_raw")) else col("sh_raw")).as("sh"))
    val novel = posts.groupBy("sh").agg(min("doc_id").as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("novel_shingles"))
    totals.join(novel, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("novel_shingles"), lit(0L)).as("novel_shingles"),
        (coalesce(col("novel_shingles"), lit(0L)).cast("double") /
          col("n_shingles").cast("double")).as("novelty"))
  }

  /** Distinct-n diversity per corpus slice (Li et al. 2016's distinct-1/2
    * generalized to any grouping): for each group and each n in `ns`,
    * the unique-vs-total n-gram counts and their ratio — low ratios mean
    * a repetitive/templated slice, and tracking the ratio across corpus
    * versions catches diversity collapse early. Output:
    * (groupCol, n, total_ngrams, distinct_ngrams, distinct_ratio),
    * ordered by nothing (caller sorts). A group whose documents are all
    * shorter than n tokens has no n-gram rows and is absent for that n
    * — absent, not zero, because a 0/0 ratio has no meaning.
    *
    * Scale shape per n: explode grams (native codegen'd [[ngramCol]]) →
    * (group, gram) hash aggregate → (group) hash aggregate. Both aggs
    * partial-aggregate map-side; nothing collects, nothing sorts, no
    * distinct-expansion (the two-level agg IS the exact distinct count).
    * The ns are independent jobs unioned lazily — each pays one scan;
    * pass fewer ns if the scan dominates.
    */
  def distinctNgrams(df: DataFrame, textCol: String, groupCol: String,
                     ns: Seq[Int] = Seq(1, 2, 3)): DataFrame = {
    require(ns.nonEmpty && ns.forall(_ >= 1),
      s"distinctNgrams: ns must be non-empty positive widths, got $ns")
    require(ns.distinct == ns, s"distinctNgrams: duplicate widths in $ns")
    val base = df.na.drop(Seq(textCol))
    ns.map { n =>
      val toks = expr(tokensExpr(textCol))
      val grams = if (n == 1) toks else ngramCol(toks, n)
      base.select(col(groupCol), explode(grams).as("__gram"))
        .groupBy(col(groupCol), col("__gram"))
        .agg(count(lit(1)).as("__c"))
        .groupBy(col(groupCol))
        .agg(sum("__c").as("total_ngrams"),
          count(lit(1)).as("distinct_ngrams"))
        .select(col(groupCol), lit(n).as("n"),
          col("total_ngrams"), col("distinct_ngrams"),
          (col("distinct_ngrams").cast("double") /
            col("total_ngrams").cast("double")).as("distinct_ratio"))
    }.reduce(_ unionByName _)
  }
}
