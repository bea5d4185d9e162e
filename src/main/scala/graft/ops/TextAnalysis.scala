package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data curation: language ID,
  * quality scoring, token counting, fingerprinting. All narrow
  * (per-row) transforms — they run at scan speed on 100 TB.
  */
object TextAnalysis {

  val TokenSplitSql = "\\\\s+"
  val BpeRe = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
  val PunctRe = "[^A-Za-z0-9\\s]"

  val Stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une"),
    "es" -> Seq("el", "los", "las", "y", "es", "este", "una"))

  private def hitsOn(toksCol: String, ws: Seq[String]): Column = {
    val list = ws.map(w => s"'$w'").mkString("(", ",", ")")
    expr(s"size(filter($toksCol, w -> w IN $list))")
  }

  /** n-gram-heuristic language ID: stopword vote, first-wins priority.
    * The lowered token array is bound once in its own projection (a
    * non-cheap alias referenced once per language survives
    * CollapseProject), so the regex split runs once per row, not once
    * per language.
    */
  def langId(df: DataFrame, textCol: String): DataFrame = {
    val langs = Stopwords.keys.toVector.sorted // de, en, es, fr
    val toksed = df.withColumn("_toks", split(lower(col(textCol)), "\\s+"))
    val withHits = langs.foldLeft(toksed) { (d, l) =>
      d.withColumn(s"hits_$l", hitsOn("_toks", Stopwords(l)))
    }
    val best = langs.foldRight(lit("und")) { (l, acc) =>
      when(col(s"hits_$l") === greatest(langs.map(x => col(s"hits_$x")): _*) &&
        col(s"hits_$l") > 0, l).otherwise(acc)
    }
    withHits.withColumn("pred_lang", best).drop("_toks")
  }

  /** Quality features: length / punctuation / stopword ratios. Token
    * array bound once (see [[langId]]).
    */
  def quality(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("_toks", split(col(textCol), "\\s+"))
      .withColumn("n_tokens", size(col("_toks")))
      .withColumn("n_punct", regexp_count(col(textCol), lit(PunctRe)))
      .withColumn("n_stop", expr(
        s"size(filter(_toks, w -> lower(w) IN ${Stopwords("en").map(w => s"'$w'").mkString("(", ",", ")")}))"))
      .withColumn("stop_ratio", col("n_stop") / col("n_tokens"))
      .withColumn("punct_ratio", col("n_punct") / greatest(length(col(textCol)), lit(1)))
      .withColumn("avg_word_len",
        expr("aggregate(_toks, 0L, (a, w) -> a + length(w))") / col("n_tokens"))
      .drop("_toks")

  /** Token counting: whitespace + a BPE-ish regex segmentation. */
  def tokenCounts(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("ws_tokens", size(split(col(textCol), "\\s+")))
      .withColumn("bpe_tokens", regexp_count(col(textCol), lit(BpeRe)))

  /** Rolling-shingle content fingerprint (min-hash of 5-gram shingles). */
  def fingerprint(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("fp",
      array_min(transform(Dedup.shingles(textCol, 5), x => md5(x))))

  /** Repetition signals (the Gopher / RefinedWeb "repetitive content"
    * family, adapted to flat text): duplicate-token ratio (narrow) and
    * the fraction of all word-bigram occurrences taken by the single
    * most frequent bigram — boilerplate and spam pages spike on both.
    *
    * Scale shape: the token stats are narrow; the top-bigram count is
    * ONE shuffle keyed by (doc, bigram) with map-side partial counts —
    * never all-pairs, never corpus-global. Ratios are emitted as
    * integer micro-units (exact cross-engine arithmetic).
    *
    * Output: idCol, n_tokens, dup_token_ratio_u, top_bigram_n,
    * top_bigram_frac_u.
    */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String): DataFrame =
    // r9 (guide §2.4): the top-bigram count is a PER-DOCUMENT statistic —
    // the native one-pass [[graft.expr.TopBigramOf]] kernel computes it
    // narrow (local count table per row), replacing the per-occurrence
    // bigram explode, the two aggregation shuffles, and the doc-keyed
    // join back. Bit-identical to the exploded groupBy formulation
    // (pinned by OpsSpec); the whole operator is now ZERO-shuffle.
    df.withColumn("_toks", split(col(textCol), "\\s+"))
      .select(col(idCol),
        size(col("_toks")).cast("long").as("n_tokens"),
        size(array_distinct(col("_toks"))).cast("long").as("_nd"),
        graft.expr.TopBigramOf(col(textCol)).as("top_bigram_n"))
      .select(col(idCol), col("n_tokens"),
        expr("cast(round(1000000.0 * (n_tokens - _nd) / greatest(n_tokens, 1)) as bigint)")
          .as("dup_token_ratio_u"),
        col("top_bigram_n"),
        expr("cast(round(1000000.0 * top_bigram_n / greatest(n_tokens - 1, 1)) as bigint)")
          .as("top_bigram_frac_u"))

  /** The Gopher quality-filter rules (Rae et al. 2021, §A1.1 — the
    * public rule set every LLM curation pipeline reimplements), with
    * every threshold comparison done in INTEGER cross-multiplied form
    * so the flags are bit-reproducible across engines:
    *  - word count in [minWords, maxWords]
    *  - mean word length in [3, 10]  (sum_len vs 3n / 10n)
    *  - symbol-to-word ratio < 0.1   (10 * n_punct < n_tokens)
    *  - >= 2 distinct words from the 8-stopword indicator list
    * Narrow — zero shuffle; `keep` is the conjunction.
    */
  val GopherStops: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** PII scrubbing: email / URL detection counts + redaction to
    * placeholder tokens — the pre-training privacy pass. Narrow, pure
    * regexp (codegen'd built-ins); patterns chosen to behave
    * identically under Java regex (Spark) and RE2 (DuckDB oracle).
    * Emails are replaced before URLs so the two passes cannot overlap.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val UrlRe = "https?://[^\\s]+"

  /** Deterministic corpus sampling: keep a document iff a hash of its
    * id falls under the fraction threshold. Unlike `df.sample()` (rand
    * per task — different rows per retry/cluster size), this is a pure
    * function of the id: stable across resumes, retries, engines — the
    * only sampling a resumable 100 TB pipeline can afford. Two forms:
    * md5-hex-prefix (cross-engine, the oracle form — lexicographic
    * comparison of lowercase hex IS the uniform numeric comparison) and
    * xxhash64 (the narrow fast path; same statistics).
    */
  def sampleDeterministic(df: DataFrame, idCol: String,
                          fraction: Double): DataFrame = {
    require(fraction >= 0 && fraction <= 1, s"fraction $fraction")
    df.filter(md5(concat(lit("sample:"), col(idCol).cast("string")))
      < lit(hexThreshold(fraction)))
  }

  def sampleDeterministicFast(df: DataFrame, idCol: String,
                              fraction: Double): DataFrame =
    df.filter(pmod(xxhash64(lit("sample"), col(idCol)), lit(1000000L))
      < lit((fraction * 1e6).toLong))

  /** 8-hex-digit threshold: fraction of the 32-bit prefix space. */
  def hexThreshold(fraction: Double): String =
    f"${math.min((fraction * 4294967296.0).toLong, 4294967295L)}%08x"

  def piiScrub(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      regexp_count(col(textCol), lit(EmailRe)).cast("long").as("n_emails"),
      regexp_count(col(textCol), lit(UrlRe)).cast("long").as("n_urls"),
      md5(regexp_replace(
        regexp_replace(col(textCol), EmailRe, "<EMAIL>"),
        UrlRe, "<URL>")).as("redacted_md5"))

  /** Benchmark decontamination (the GPT-3 appendix-C / Llama "13-gram
    * overlap" pass every LLM pipeline runs): report corpus documents
    * sharing any lowered token n-gram with a benchmark (test-set)
    * table, with the count of distinct overlapping n-grams.
    *
    * Scale shape: the benchmark side is SMALL (test sets are at most
    * millions of n-grams) — its distinct n-grams BROADCAST. The corpus
    * side is a narrow scan → n-gram projection → explode → broadcast
    * hash join that keeps only matching n-grams, so the post-join
    * volume is O(hits), and the only shuffle is the tiny per-doc
    * count-distinct over hits. The corpus itself never shuffles, and
    * the output is O(contaminated docs), not corpus-sized.
    */
  /** Lowered token n-gram array bound as `_ng`: the shared primitive of
    * [[decontaminate]] and [[dupNgrams]]. r9: ONE native pass
    * ([[graft.expr.NgramsOf]] with lower + drop-empty — bit-identical to
    * the previous `filter(split(lower(text)), x -> x <> '')` +
    * interpreted transform/slice/concat_ws chain, pinned by OpsSpec).
    */
  private[graft] def withTokenNgrams(df: DataFrame, textCol: String, n: Int): DataFrame =
    df.withColumn("_ng", graft.expr.NgramsOf(col(textCol), n,
      lower = true, dropEmpty = true))

  /** The distinct benchmark n-gram set `decontaminate` joins against —
    * exposed so a STATIC bench can compute (and persist) it ONCE and
    * reuse it across streaming micro-batches instead of re-deriving it
    * per batch.
    */
  def benchNgramSet(bench: DataFrame, textCol: String, n: Int = 8): DataFrame = {
    require(n >= 1, s"n-gram order $n")
    withTokenNgrams(bench, textCol, n).select(explode(col("_ng")).as("ng")).distinct()
  }

  def decontaminate(corpus: DataFrame, bench: DataFrame, idCol: String,
                    textCol: String, n: Int = 8): DataFrame =
    decontaminateNg(corpus, benchNgramSet(bench, textCol, n), idCol, textCol, n)

  /** [[decontaminate]] against a precomputed [[benchNgramSet]] (one
    * `ng` column).
    */
  def decontaminateNg(corpus: DataFrame, benchNg: DataFrame, idCol: String,
                      textCol: String, n: Int = 8): DataFrame = {
    require(n >= 1, s"n-gram order $n")
    // explode_OUTER on the corpus side: a plain explode makes Catalyst
    // infer a size(_ng) > 0 filter and push it below the projections,
    // re-deriving the whole n-gram array a second time per row on the
    // 100 TB hot path. Outer generate skips that rule; the empty-array
    // rows surface as null ng, which the inner join drops for free.
    withTokenNgrams(corpus, textCol, n)
      .select(col(idCol), explode_outer(col("_ng")).as("ng"))
      .join(broadcast(benchNg), "ng")
      .groupBy(col(idCol))
      .agg(countDistinct(col("ng")).cast("long").as("n_hits"))
  }

  /** Sequence packing (the GPT-style training-shard layout): documents
    * are concatenated in `idCol` order into one virtual token stream,
    * which is cut into fixed `budget`-token shards; each document
    * reports its exclusive start offset and the first/last shard it
    * lands in. All arithmetic is integral (`div`), exact past 2^53.
    *
    * Scale shape: the global prefix sum is computed with the TWO-PASS
    * scheme — ids are range-bucketed into `partSpan`-wide parts, each
    * part computes its internal running sum in parallel (one shuffle,
    * partitioned by part), and the per-part totals (a tiny table,
    * |ids|/partSpan rows) get a cumulative sum whose single-partition
    * window is fine at any corpus size, then broadcast back. NEVER a
    * global `Window.orderBy(id)` over the corpus — that serializes
    * 100 TB through one task. OpsSpec pins two-pass == naive window ==
    * partitioning-invariant; the DuckDB oracle IS the naive window.
    * Ids must be non-negative (`div` truncation).
    */
  def packSequences(df: DataFrame, idCol: String, tokensCol: String,
                    budget: Long, partSpan: Long = 1L << 20): DataFrame = {
    require(budget > 0, s"budget $budget")
    require(partSpan > 0, s"partSpan $partSpan")
    val base = df.select(col(idCol),
        col(tokensCol).cast("long").as("n_tokens"))
      // coalesce makes _part non-nullable: the later inner join then
      // infers no isnotnull(_part) filter, which would otherwise land
      // asymmetrically in the two branches (scan-pushed in one, stuck
      // above the window in the other) and break exchange reuse.
      .withColumn("_part",
        coalesce(expr(s"cast($idCol as long) div $partSpan"),
          lit(Long.MinValue)))
    val wIn = Window.partitionBy("_part").orderBy(idCol)
    // _run is the inclusive running sum; the part total is _run at the
    // part's last id (max_by), so the totals branch is derived FROM the
    // windowed branch — both sides share one Exchange (ReuseExchange),
    // and the corpus is scanned + tokenized exactly once.
    val withPrefix = base
      .withColumn("_run", sum(col("n_tokens")).over(wIn))
      .withColumn("_in_pre", col("_run") - col("n_tokens"))
    val wPart = Window.partitionBy(pmod(col("_part"), lit(1))).orderBy("_part")
    val offsets = withPrefix.groupBy("_part")
      .agg(expr(s"max_by(_run, $idCol)").as("_tot"))
      .withColumn("_off", sum(col("_tot")).over(wPart) - col("_tot"))
      .select(col("_part"), col("_off"))
    withPrefix.join(broadcast(offsets), Seq("_part"))
      .select(col(idCol), col("n_tokens"),
        (col("_off") + col("_in_pre")).as("start_off"))
      .withColumn("shard_first", expr(s"start_off div $budget"))
      .withColumn("shard_last",
        expr(s"(start_off + greatest(n_tokens, 1L) - 1) div $budget"))
  }

  /** Corpus-wide duplicated n-gram mining (stage 1 of exact-substring
    * dedup, Lee et al. 2022 "Deduplicating Training Data Makes
    * Language Models Better"): every lowered token n-gram occurring in
    * at least `minDocs` distinct documents, with its document and
    * total occurrence counts — the blocklist boilerplate/template
    * detectors are built from.
    *
    * Scale shape: ONE shuffle keyed by the n-gram with two-level
    * (map-side partial) aggregation; the threshold filter bounds the
    * output to the heavy tail. This global count is inherently a
    * corpus-sized shuffle — at 100 TB you ship an 8-byte xxhash64 of
    * each n-gram instead of the string (`hashed = true`; OpsSpec pins
    * hashed counts == string counts) and recover the text of the few
    * survivors with one broadcast semi-join afterwards.
    */
  def dupNgrams(df: DataFrame, idCol: String, textCol: String,
                n: Int = 8, minDocs: Long = 2, hashed: Boolean = false): DataFrame = {
    require(n >= 1 && minDocs >= 1)
    val exploded = withTokenNgrams(df, textCol, n)
      .select(col(idCol), explode_outer(col("_ng")).as("_s"))
      // xxhash64(null) yields the (non-null) seed hash, so the hashed
      // form must keep explode_outer's null rows null explicitly; the
      // hash stays a LONG — the whole point is shuffling 8 bytes per
      // key instead of the n-gram string
      .withColumn("ng",
        if (hashed) when(col("_s").isNotNull, xxhash64(col("_s")))
        else col("_s"))
    // r9 (guide §2.3): countDistinct mixed with count(*) makes the
    // planner Expand every row into two aggregation streams; the manual
    // two-level form shuffles each occurrence once as an (ng, id)
    // partial count, then folds (n_docs = non-null id groups, as
    // countDistinct counted them; n_total = count sum) — same results,
    // half the pre-shuffle rows.
    exploded.groupBy(col("ng"), col(idCol))
      .agg(count(lit(1)).as("_c"))
      .groupBy("ng")
      .agg(count(col(idCol)).cast("long").as("n_docs"),
        sum(col("_c")).cast("long").as("n_total"))
      .filter(col("n_docs") >= minDocs && col("ng").isNotNull)
  }

  /** Stratified deterministic sampling — the data-mixing primitive:
    * per-stratum keep fractions (e.g. up-/down-weighting sources in a
    * training mixture), decided by the same pure id-hash rule as
    * [[sampleDeterministic]] so the mixture is reproducible across
    * retries, resumes, cluster sizes, and engines. Strata absent from
    * `fractions` fall back to `defaultFraction`. Narrow — a single
    * filter at scan speed.
    */
  def sampleStratified(df: DataFrame, idCol: String, stratumCol: String,
                       fractions: Map[String, Double],
                       defaultFraction: Double = 0.0): DataFrame = {
    (fractions.values.toSeq :+ defaultFraction).foreach(f =>
      require(f >= 0 && f <= 1, s"fraction $f"))
    val thr = fractions.foldLeft(lit(hexThreshold(defaultFraction))) {
      case (acc, (s, f)) =>
        when(col(stratumCol) === s, lit(hexThreshold(f))).otherwise(acc)
    }
    df.filter(md5(concat(lit("sample:"), col(stratumCol), lit(":"),
      col(idCol).cast("string"))) < thr)
  }

  /** APPENDS the Gopher columns (n_tokens + four flags + keep) to `df`
    * keeping every existing column — the narrow form [[graft.ops
    * .Curation]] composes without a flags join; [[gopherFlags]] is the
    * projected view of the same definition.
    */
  def withGopherFlags(df: DataFrame, textCol: String,
                      minWords: Long = 50, maxWords: Long = 100000): DataFrame = {
    val stops = GopherStops.map(w => s"'$w'").mkString("array(", ",", ")")
    df.withColumn("_toks", split(col(textCol), "\\s+"))
      .withColumn("n_tokens", size(col("_toks")).cast("long"))
      .withColumn("_sumlen",
        expr("aggregate(_toks, 0L, (a, w) -> a + length(w))"))
      .withColumn("_npunct", regexp_count(col(textCol), lit(PunctRe)).cast("long"))
      .withColumn("_nstops", expr(
        s"size(array_intersect(array_distinct(transform(_toks, w -> lower(w))), $stops))"))
      .withColumn("flag_word_count",
        when(col("n_tokens").between(minWords, maxWords), 1L).otherwise(0L))
      .withColumn("flag_mean_word_len",
        when(col("_sumlen") >= lit(3) * col("n_tokens") &&
             col("_sumlen") <= lit(10) * col("n_tokens"), 1L).otherwise(0L))
      .withColumn("flag_symbol_ratio",
        when(lit(10) * col("_npunct") < col("n_tokens"), 1L).otherwise(0L))
      .withColumn("flag_stopwords",
        when(col("_nstops") >= 2, 1L).otherwise(0L))
      .withColumn("keep",
        (col("flag_word_count") * col("flag_mean_word_len") *
          col("flag_symbol_ratio") * col("flag_stopwords")).cast("bigint"))
      .drop("_toks", "_sumlen", "_npunct", "_nstops")
  }

  def gopherFlags(df: DataFrame, idCol: String, textCol: String,
                  minWords: Long = 50, maxWords: Long = 100000): DataFrame =
    withGopherFlags(df, textCol, minWords, maxWords)
      .select(col(idCol), col("n_tokens"), col("flag_word_count"),
        col("flag_mean_word_len"), col("flag_symbol_ratio"),
        col("flag_stopwords"), col("keep"))
}
