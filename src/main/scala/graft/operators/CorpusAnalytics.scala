package graft.operators

import graft.functions.TextAnalysis
import graft.operators.BoundedCells.r4
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-level text analytics for training-data pipelines: term
  * frequencies, TF-IDF salience, repetition-quality signals, PII
  * redaction, and stratified sampling.
  *
  * All tokenization matches [[TextAnalysis]] (lower, trim, split on
  * whitespace) so corpus stats, dedup shingles, and these reports agree on
  * what a "token" is.
  *
  * Scale notes: term-level operators explode documents into tokens — at
  * 100 TB that intermediate dwarfs the input, so every one aggregates
  * immediately after the generator (partial aggregation collapses the
  * token stream map-side before any shuffle) and nothing ever collects a
  * vocabulary to the driver.
  */
object CorpusAnalytics {

  private def tokens(text: Column): Column =
    filter(split(lower(trim(text)), "\\s+"), t => length(t) > 0)

  /** Top-`k` corpus token frequencies, ties broken lexicographically.
    * explode → groupBy(token) with map-side combine → distributed top-k
    * (`orderBy.limit` plans as TakeOrderedAndProject, no global sort).
    */
  def wordFrequencies(
      docs: DataFrame,
      textCol: String = "text",
      k: Int = 20): DataFrame =
    docs
      .select(explode(tokens(col(textCol))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(k)

  /** Most-salient term per document by TF-IDF: tf = in-doc occurrences,
    * idf = ln(N / df) with df = documents containing the term. Returns
    * (id, top_term, score).
    *
    * Three aggregations, all on the token stream: per-(doc, term) tf,
    * per-term df, then a per-doc top-1 as a `min_by` hash aggregate over
    * (−score, term) — maximizing score with the deterministic
    * (score desc, term asc) tie-break, WITHOUT a per-doc window sort:
    * map-side partials collapse each partition's terms to one candidate
    * per doc before the doc-keyed exchange (r13; the window form
    * shuffled and sorted the full scored stream). The df side is a
    * term-cardinality table — broadcast-joined when small,
    * shuffle-joined otherwise (left to AQE; both sides are already
    * partitioned by term after their aggs). The corpus size N enters the
    * plan as a broadcast one-row aggregate (a pruned count-only scan),
    * NOT an eager `docs.count()` — no extra driver-blocking pass over
    * the corpus before planning.
    */
  def tfidfTopTerm(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val nDocs = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    // persisted: both the scoring join and the df aggregation consume it —
    // without this the explode+agg over the full token stream runs twice
    // (caller-visible lifecycle: unpersist via spark.catalog.clearCache)
    val termFreq = docs
      .select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
      .persist()
    val docFreq = termFreq
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
    val scored = termFreq.join(docFreq, "term")
      .crossJoin(broadcast(nDocs)) // one row: a broadcast scalar, not a shuffle
      .select(col(idCol), col("term"),
        (col("tf") * log(col("n_docs") / col("df"))).as("score"))
    scored
      .groupBy(col(idCol))
      .agg(min_by(struct(col("term"), col("score")),
        struct(negate(col("score")), col("term"))).as("_t"))
      .select(col(idCol), col("_t.term").as("top_term"), col("_t.score").as("score"))
  }

  /** Duplicate word-bigram ratio — the Gopher-style repetition quality
    * signal: 1 − distinct-bigrams / total-bigrams, 0.0 for texts of fewer
    * than 2 tokens. Pure map-side scalar (the custom codegen'd
    * [[graft.functions.WordShingles]] provides the distinct count).
    */
  def repetitionRatio(text: Column): Column = {
    val total = TextAnalysis.tokenCount(text).cast("double") - 1.0
    val distinctBigrams = size(Dedup.shingles(text, 2)).cast("double")
    when(total <= 0, lit(0.0)).otherwise(lit(1.0) - distinctBigrams / total)
  }

  /** Per-document Shannon entropy signals — the gibberish / machine-junk
    * detector every corpus filter stack carries (base64 blobs, minified
    * code, and key-dumps sit far from natural-language entropy bands;
    * CCNet/Gopher-style pipelines cut on exactly these): character-level
    * and word-level entropy H = ln n − (Σ c·ln c)/n from integer counts.
    *
    * Float discipline (q150's): both entropies fold their count terms in
    * SORTED key order, left-associative, so DuckDB replays the exact
    * doubles; one division and one ln(n) per doc, outputs rounded to 4.
    * Shapes: char entropy is IN-ROW (distinct-char set is alphabet-bounded,
    * so the per-row work is O(|alphabet|·n) with no shuffle; the char
    * array binds as a column — multi-referenced, so projection collapse
    * cannot re-inline it). Word entropy's distinct-token set is NOT
    * bounded, so it goes explode → (doc, token) count agg (map-side
    * partials collapse the token stream) → per-doc sorted fold over the
    * count structs — one 8-byte-keyed shuffle, never O(n²) per doc.
    */
  def entropySignals(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val chars = col("_chars")
    val alphabet = array_sort(array_distinct(chars))
    val charTerm = aggregate(
      transform(alphabet, c => size(filter(chars, x => x === c)).cast("double")),
      lit(0.0), (acc, n) => acc + n * log(n))
    val n = length(col("_t")).cast("double")
    val charSide = docs
      .filter(col(textCol).isNotNull && length(col(textCol)) > 0)
      .select(col(idCol), lower(col(textCol)).as("_t"))
      .select(col(idCol), col("_t"),
        transform(sequence(lit(1), length(col("_t"))),
          i => col("_t").substr(i, lit(1))).as("_chars"))
      .select(col(idCol),
        length(col("_t")).cast("long").as("n_chars"),
        round(log(n) - charTerm / n, 4).as("char_entropy"))
    val tokenCounts = docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol), explode(tokens(col(textCol))).as("tok"))
      .groupBy(col(idCol), col("tok"))
      .agg(count(lit(1)).as("c"))
    val nt = col("n_tokens").cast("double")
    val wordSide = tokenCounts
      .groupBy(col(idCol))
      .agg(sum(col("c")).as("n_tokens"),
        array_sort(collect_list(struct(col("tok"), col("c")))).as("_tc"))
      .select(col(idCol), col("n_tokens"),
        round(log(nt) - aggregate(col("_tc"), lit(0.0),
          (acc, e) => acc + e.getField("c").cast("double") *
            log(e.getField("c").cast("double"))) / nt, 4).as("word_entropy"))
    charSide.join(wordSide, Seq(idCol), "left")
      .select(col(idCol), col("n_chars"), col("char_entropy"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("word_entropy"), lit(0.0)).as("word_entropy"))
  }

  /** PII redaction: emails → `<EMAIL>`, long digit runs (4+) → `<NUM>`.
    * Returns (redacted text, n_emails, n_nums) as struct fields. Map-side
    * scalar — codegen'd regexp kernels, no UDF.
    */
  def redactPii(text: Column): Column = {
    val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val numRe = "[0-9]{4,}"
    val noEmail = regexp_replace(text, emailRe, "<EMAIL>")
    struct(
      regexp_replace(noEmail, numRe, "<NUM>").as("redacted"),
      regexp_count(text, lit(emailRe)).as("n_emails"),
      regexp_count(noEmail, lit(numRe)).as("n_nums"))
  }

  /** Composite quality gate — the "keep or reject, and say why" filter a
    * curation pipeline runs before training: short docs, low-alpha docs,
    * and repetitive docs are rejected with machine-readable reasons.
    * Pure map-side scalars (one pass, no shuffle); `reasons` is a
    * comma-joined list (concat_ws skips the NULL branches), empty = pass.
    */
  def qualityGate(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      minTokens: Int = 5,
      minAlpha: Double = 0.6,
      maxRepetition: Double = 0.2): DataFrame = {
    val nTok = TextAnalysis.tokenCount(col(textCol))
    val alpha = TextAnalysis.alphaRatio(col(textCol))
    val rep = repetitionRatio(col(textCol))
    val reasons = concat_ws(",",
      when(nTok < minTokens, lit("too_short")),
      when(alpha < minAlpha, lit("low_alpha")),
      when(rep > maxRepetition, lit("repetitive")))
    docs.select(col(idCol),
      nTok.as("n_tokens"),
      round(alpha, 4).as("alpha_ratio"),
      round(rep, 4).as("rep_ratio"),
      (reasons === "").as("passes"),
      reasons.as("reasons"))
  }

  /** Per-stratum token-budget trim: rank docs by (quality desc, id), keep
    * each doc whose cumulative token count BEFORE it is still under the
    * budget — the standard "fill the training mix to N tokens per
    * language" curation step. One shuffle on the stratum key; the running
    * sum shares the rank's window partitioning.
    */
  def tokenBudget(
      docs: DataFrame,
      stratumCol: String,
      idCol: String,
      budgetTokens: Long,
      textCol: String = "text"): DataFrame = {
    val nTok = TextAnalysis.tokenCount(col(textCol)).cast("long")
    val quality = TextAnalysis.alphaRatio(col(textCol))
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(col("quality").desc, col(idCol))
    docs
      .select(col(stratumCol), col(idCol), nTok.as("n_tokens"),
        round(quality, 6).as("quality"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") - col("n_tokens") < budgetTokens)
  }

  /** Deterministic stratified sample: the `perStratum` smallest md5-ranked
    * rows per stratum. Hash order (not `rand()`) makes the sample stable
    * across runs/engines/retries — same discipline as [[Sampling]].
    * One shuffle on the stratum key; rank via row_number window.
    */
  def stratifiedSample(
      df: DataFrame,
      stratumCol: String,
      idCol: String,
      perStratum: Int): DataFrame = {
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(md5(col(idCol).cast("string").cast("binary")), col(idCol))
    df.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= perStratum)
  }

  /** Benchmark decontamination: flag every training doc sharing at least
    * one word n-gram with the held-out evaluation set — the standard
    * "remove eval overlap from the training mix" pass. Returns every train
    * doc as (id, n_hit_grams, contaminated); n_hit_grams counts DISTINCT
    * shared n-grams (shingle sets are distinct per doc).
    *
    * Scale shape: the eval-gram universe is tiny by definition (benchmark
    * suites, not corpora) — it is distinct-aggregated once and BROADCAST,
    * so the train side is one explode + broadcast-semi-hash + per-doc agg
    * with map-side combine: no shuffle ever carries the train gram stream.
    * Blank/whitespace-only docs have no grams and report 0 hits.
    */
  def decontaminate(
      train: DataFrame,
      evalDocs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      n: Int = 3): DataFrame = {
    val nonBlank = (d: DataFrame) =>
      d.filter(col(textCol).isNotNull && trim(col(textCol)) =!= "")
    val evalGrams = nonBlank(evalDocs)
      .select(explode(Dedup.shingles(col(textCol), n)).as("g"))
      .distinct()
    val hits = nonBlank(train)
      .select(col(idCol), explode(Dedup.shingles(col(textCol), n)).as("g"))
      .join(broadcast(evalGrams), "g")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hit_grams"))
    train.select(col(idCol)).join(hits, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_hit_grams"), lit(0L)).as("n_hit_grams"),
        (coalesce(col("n_hit_grams"), lit(0L)) > 0).as("contaminated"))
  }

  /** [[decontaminate]]'s scale path: when the eval/benchmark suite is too
    * large to broadcast its gram set row-for-row (hundreds of benchmarks ×
    * contamination windows), fold it into a Bloom filter instead —
    * `bloom_filter_agg` builds the bitmap distributedly (partial filters
    * OR-merge map-side), only the fixed-size bitmap reaches the driver
    * (a bounded documented collect, [[Similarity.kmeansCentroids]]'s
    * pattern — `might_contain` requires a constant filter), and the train
    * side probes it as a plan literal shipped with the task binaries.
    * Train rows never shuffle, same as the exact variant.
    *
    * Bloom semantics carry over exactly one asymmetry: NO false negatives
    * (every truly contaminated doc is flagged — the guarantee that matters
    * for decontamination) but a bounded false-positive overhang. Size via
    * `expectedGrams` >= the true distinct-gram count and `fpp`; a doc with
    * g grams is falsely flagged with prob ~ 1-(1-fpp)^g, so per-doc FP
    * stays below ~g*fpp — q103's contract pins both properties against
    * the exact operator. Probe hash is xxhash64, matching the builder.
    */
  /** Eval-side contamination report — the OTHER deliverable of
    * decontamination (Brown et al. 2020 Appendix C measure both ways):
    * [[decontaminate]] flags which TRAIN docs to drop; this reports, per
    * EVAL example, how compromised it is — the share of its distinct word
    * n-grams that appear anywhere in the training corpus. An eval doc at
    * 1.0 is memorizable verbatim; benchmarks report scores "clean" vs
    * "dirty" split exactly on this number.
    *
    * Shape (the train side NEVER shuffles): the bounded eval gram
    * universe broadcasts, the train gram stream semi-filters against it
    * map-side, and only the INTERSECTION (≤ eval-universe size) reaches
    * the distinct agg; eval grams then left-join the broadcast hit set
    * and aggregate per eval doc. Gram keys are xxhash64 8-byte longs
    * (collision/oracle-pin argument as [[dupNgramFraction]]).
    */
  def evalContamination(
      train: DataFrame,
      evalDocs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      n: Int = 3): DataFrame = {
    val nonBlank = (d: DataFrame) =>
      d.filter(col(textCol).isNotNull && trim(col(textCol)) =!= "")
    val evalGrams = nonBlank(evalDocs)
      .select(col(idCol), explode(Dedup.shingles(col(textCol), n)).as("gs"))
      .select(col(idCol), xxhash64(col("gs")).as("g"))
    val evalUniverse = evalGrams.select(col("g")).distinct()
    val hitSet = nonBlank(train)
      .select(explode(Dedup.shingles(col(textCol), n)).as("gs"))
      .select(xxhash64(col("gs")).as("g"))
      .join(broadcast(evalUniverse), "g")
      .distinct()
      .withColumn("_hit", lit(1))
    evalGrams
      .join(broadcast(hitSet), Seq("g"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("_hit"), lit(0))).cast("long").as("n_hit"))
      .select(col(idCol), col("n_grams"), col("n_hit"),
        round(col("n_hit").cast("double") / col("n_grams"), 4)
          .as("contamination"))
  }

  def decontaminateBloom(
      train: DataFrame,
      evalDocs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      n: Int = 3,
      expectedGrams: Long = 1 << 20,
      fpp: Double = 1e-4): DataFrame = {
    val nonBlank = (d: DataFrame) =>
      d.filter(col(textCol).isNotNull && trim(col(textCol)) =!= "")
    // Spark's BloomFilterAggregate enforces the runtime-join-filter ceilings
    // (spark.sql.optimizer.runtime.bloomFilter.{maxNumItems,maxNumBits},
    // defaults 4M items / 67M bits) at ANALYSIS time — clamp to the session
    // confs so an optimistic expectedGrams degrades to a higher realized fpp
    // (more false positives, still zero false negatives) instead of failing.
    // Callers sizing for larger eval suites raise those confs first.
    val sqlConf = train.sparkSession.sessionState.conf
    val maxItems = sqlConf.getConfString(
      "spark.sql.optimizer.runtime.bloomFilter.maxNumItems", "4194304").toLong
    val maxBits = sqlConf.getConfString(
      "spark.sql.optimizer.runtime.bloomFilter.maxNumBits", "67108864").toLong
    val items = math.min(expectedGrams, maxItems)
    // optimal bits for the target fpp: m = -n*ln(p)/ln(2)^2
    val numBits = math.min(maxBits, math.max(64L,
      math.ceil(-items * math.log(fpp) / (math.log(2) * math.log(2))).toLong))
    val bloomBits: Array[Byte] = nonBlank(evalDocs)
      .select(explode(Dedup.shingles(col(textCol), n)).as("g"))
      .agg(graft.functions.BloomSketch
        .bloom_agg(xxhash64(col("g")), items, numBits).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    // empty/all-blank eval set: the aggregate yields a NULL bitmap, and a
    // NullType literal fails BloomFilterMightContain's analysis — short-
    // circuit to "nothing contaminated", matching the exact operator
    if (bloomBits == null) {
      return train.select(col(idCol),
        lit(0L).as("n_hit_grams"), lit(false).as("contaminated"))
    }
    val hits = nonBlank(train)
      .select(col(idCol), explode(Dedup.shingles(col(textCol), n)).as("g"))
      .filter(graft.functions.BloomSketch
        .bloom_might_contain(lit(bloomBits), xxhash64(col("g"))))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hit_grams"))
    train.select(col(idCol)).join(hits, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_hit_grams"), lit(0L)).as("n_hit_grams"),
        (coalesce(col("n_hit_grams"), lit(0L)) > 0).as("contaminated"))
  }

  /** Token-rarity report — the integer-exact cousin of unigram-LM
    * surprisal scoring: per doc, the token count, how many token
    * occurrences are corpus-rare (global frequency <= `rareMaxFreq`), and
    * the mean corpus frequency of its tokens. Rare-heavy docs are
    * candidates for quality review; high-mean docs are boilerplate.
    *
    * All aggregates are integer counts; the single double division for the
    * mean happens once per doc (deterministic across engines). Two passes
    * over the persisted token stream (global freq agg, then the join-back
    * per-doc agg) — the same shape and cache lifecycle as [[tfidfTopTerm]].
    */
  def tokenRarity(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      rareMaxFreq: Long = 2L): DataFrame = {
    val toks = docs
      .select(col(idCol), explode(tokens(col(textCol))).as("token"))
      .persist()
    val freq = toks.groupBy(col("token")).agg(count(lit(1)).as("freq"))
    val perDoc = toks.join(freq, "token")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("freq") <= rareMaxFreq, 1L).otherwise(0L)).as("n_rare_tokens"),
        round(sum(col("freq")).cast("double") / count(lit(1)), 6).as("mean_token_freq"))
    docs.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_rare_tokens"), lit(0L)).as("n_rare_tokens"),
        coalesce(col("mean_token_freq"), lit(0.0)).as("mean_token_freq"))
  }

  /** Sequence-packing layout for context-window training: concatenate each
    * stratum's docs in id order and cut the stream into fixed
    * `windowTokens` windows. Each doc gets its global token offset
    * (`seq_start`), the window it starts in, and its offset within that
    * window — the metadata a packed-batch loader needs (docs MAY straddle
    * a boundary; concatenation packing splits them, it does not pad).
    *
    * One shuffle on the stratum key; the running sum is a single window
    * pass and everything downstream is integer arithmetic (exact at any
    * scale, no float drift between engines).
    */
  def packSequences(
      docs: DataFrame,
      stratumCol: String,
      idCol: String,
      windowTokens: Long,
      textCol: String = "text"): DataFrame = {
    val nTok = TextAnalysis.tokenCount(col(textCol)).cast("long")
    val w = Window.partitionBy(col(stratumCol)).orderBy(col(idCol))
    docs
      .select(col(stratumCol), col(idCol), nTok.as("n_tokens"))
      .withColumn("seq_start", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .select(col(stratumCol), col(idCol), col("n_tokens"), col("seq_start"),
        (col("seq_start") - pmod(col("seq_start"), lit(windowTokens)))
          .divide(lit(windowTokens)).cast("long").as("window_id"),
        pmod(col("seq_start"), lit(windowTokens)).as("window_offset"))
  }

  /** Overlapping token-window chunking — the "split long docs into model-
    * sized pieces" pass both RAG indexing and pretraining need. Each doc
    * explodes into chunks of `chunkTokens` tokens advancing by
    * `chunkTokens - overlap` (the final, possibly-short chunk keeps the
    * tail; docs at or under one chunk stay whole). Output per chunk:
    * (id, chunk_idx, token_start, n_chunk_tokens, chunk_text with tokens
    * re-joined by single spaces).
    *
    * Pure map-side generator (tokenize once, slice per chunk) — the only
    * data movement is the explode fanout, which downstream aggregates or
    * writes absorb; nothing shuffles here. Deterministic strings, so the
    * whole output is exactly oracle-checkable.
    */
  def chunkDocuments(
      docs: DataFrame,
      chunkTokens: Int,
      overlap: Int = 0,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(chunkTokens > 0 && overlap >= 0 && overlap < chunkTokens,
      "need 0 <= overlap < chunkTokens")
    val step = chunkTokens - overlap
    val toks = tokens(col(textCol))
    // starts: 0, step, 2*step, ... while a start < n still yields NEW
    // tokens (start + overlap < n guards a trailing all-overlap chunk)
    val starts = filter(
      sequence(lit(0), greatest(size(toks) - 1, lit(0)), lit(step)),
      s => (s === 0) || (s + overlap < size(toks)))
    docs
      .select(col(idCol), toks.as("_toks"), posexplode(starts).as(Seq("chunk_idx", "start")))
      .filter(size(col("_toks")) > 0)
      .select(col(idCol), col("chunk_idx").cast("long").as("chunk_idx"),
        col("start").cast("long").as("token_start"),
        least(size(col("_toks")) - col("start"), lit(chunkTokens)).cast("long")
          .as("n_chunk_tokens"),
        concat_ws(" ", slice(col("_toks"), col("start") + 1, lit(chunkTokens)))
          .as("chunk_text"))
  }

  /** Domain-mixture rebalancing weights: per group (source/domain), its
    * token share of the corpus and the sampling weight that would flatten
    * the mixture to uniform shares — the "upsample rare domains" knob of a
    * training-mix builder. Weights > 1 mean upsample, < 1 downsample.
    *
    * One agg on the group key; corpus totals enter as a broadcast one-row
    * aggregate (no driver collect, same pattern as [[tfidfTopTerm]]'s N).
    * Shares/weights are single double divisions of exact integer counts —
    * deterministic across engines.
    */
  def mixtureWeights(
      docs: DataFrame,
      groupCol: String,
      textCol: String = "text"): DataFrame = {
    val perGroup = docs
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(TextAnalysis.tokenCount(col(textCol)).cast("long")).as("n_tokens"))
    val totals = perGroup.agg(
      sum(col("n_tokens")).as("total_tokens"),
      count(lit(1)).as("n_groups"))
    perGroup.crossJoin(broadcast(totals))
      .select(col(groupCol), col("n_docs"), col("n_tokens"),
        round(col("n_tokens").cast("double") / col("total_tokens"), 6)
          .as("token_share"),
        round(col("total_tokens").cast("double") /
          (col("n_groups") * col("n_tokens")), 6).as("uniform_weight"))
  }

  /** Corpus-level duplicated n-gram fraction per document: of a doc's
    * DISTINCT word n-grams, the share that also appear in at least one
    * OTHER document. The RefinedWeb/Gopher-family quality signal that
    * [[Dedup]]'s pair operators don't give you — boilerplate-heavy docs
    * score high long before they qualify as near-duplicates of any single
    * other doc. (Within-doc repetition is [[repetitionScore]]; train-vs-eval
    * overlap is [[decontaminate]] — this is the corpus-global third axis.)
    *
    * Shape: explode distinct shingles (same [[Dedup.shingles]] kernel as
    * the dedup family, so "n-gram" means the same thing engine-wide),
    * count distinct docs per gram (rows are (gram, doc) distinct already —
    * a count(*) hash agg with map-side partials), broadcast-free join back
    * on the gram, then one per-doc agg. Two shuffles total, both on
    * 8-byte keys: the gram enters the shuffle as xxhash64(gram), the
    * 100 TB key shape — a fixed-width long where the raw string would
    * average ~20 bytes and skew to 100+. A cross-doc 64-bit collision
    * inflating a count has probability ~(distinct grams)²/2^64 — zero in
    * practice, and the string-gram DuckDB oracle (q102) staying hash-green
    * pins that the counts are unchanged (same argument as the dedup
    * family's hashed-shingle verify, q22).
    */
  def dupNgramFraction(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      n: Int = 3): DataFrame = {
    val grams = docs
      .filter(col(textCol).isNotNull && trim(col(textCol)) =!= "")
      .select(col(idCol),
        explode(transform(Dedup.shingles(col(textCol), n), g => xxhash64(g))).as("gram"))
    val gramDocCounts = grams
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("n_docs_with_gram"))
    grams
      .join(gramDocCounts, "gram")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("n_docs_with_gram") >= 2, 1L).otherwise(0L)).as("n_shared"))
      .select(col(idCol), col("n_grams"),
        round(col("n_shared").cast("double") / col("n_grams"), 4)
          .as("dup_fraction"))
  }

  /** Token burstiness (Church & Gale 1995): for the `topM` highest-df
    * tokens, the Fano factor var/mean of the token's per-document count
    * over ALL documents (zero-count docs included) — topical "bursty"
    * terms score >> 1 while function words sit near Poisson (~1). The
    * classic content-vs-function-word audit for stopword-list induction
    * and quality-filter tuning.
    *
    * Shape: one (doc, token) tf aggregate (the [[Ranking]] tokenizer), one
    * per-token moment aggregate over it — df, Σc, Σc² are exact integer
    * sums (order-free), N is a one-row broadcast scalar, and every double
    * division happens once at the end, so the oracle replays bit-for-bit.
    * Top-M selection is `orderBy.limit` = TakeOrderedAndProject; display
    * rounding is floor-form (the values are rational — q162 discipline).
    */
  def tokenBurstiness(
      docs: DataFrame,
      topM: Int = 20,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(topM > 0, "need a positive topM")
    val base = docs.filter(col(textCol).isNotNull && trim(col(textCol)) =!= "")
    val tf = base
      .select(col(idCol),
        explode(split(lower(trim(col(textCol))), "\\s+")).as("token"))
      .groupBy(col(idCol), col("token")).agg(count(lit(1)).as("c"))
    val n = base.agg(count(lit(1)).cast("double").as("_n"))
    val moments = tf.groupBy(col("token"))
      .agg(count(lit(1)).as("df"),
        sum(col("c")).as("_s1"),
        sum(col("c") * col("c")).as("_s2"))
    val mean = col("_s1").cast("double") / col("_n")
    val ex2 = col("_s2").cast("double") / col("_n")
    val fano = (ex2 - mean * mean) / mean
    moments.crossJoin(broadcast(n))
      .select(col("token"), col("df"), col("_s1").as("n_total"),
        (floor(fano * 10000 + lit(0.5)) / 10000).as("fano"))
      .orderBy(col("df").desc, col("token"))
      .limit(topM)
      .withColumn("rnk", row_number()
        .over(org.apache.spark.sql.expressions.Window
          .orderBy(col("df").desc, col("token"))).cast("long"))
      .select(col("rnk"), col("token"), col("df"), col("n_total"), col("fano"))
  }

  /** Temporal n-gram novelty: per document, the share of its DISTINCT word
    * n-grams whose FIRST corpus occurrence (min id over containing docs)
    * is strictly earlier than this document — novelty = 1 - that share.
    * The "is the crawl still finding new content?" curve of an ingestion
    * pipeline, and the ordered complement of [[dupNgramFraction]]'s
    * symmetric signal: a verbatim re-crawl scores novelty 0 while the
    * original it copies keeps scoring 1.
    *
    * Same two-shuffle shape as [[dupNgramFraction]], including the
    * xxhash64 gram keys (collision odds and the q112 oracle pin argued
    * there): per-gram min-id hash agg (map-side partials), join back on
    * the gram, one per-doc agg. Any total order works as "time" — callers
    * with a real timestamp pass it as `idCol`.
    */
  def gramNovelty(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      n: Int = 3): DataFrame = {
    val grams = docs
      .filter(col(textCol).isNotNull && trim(col(textCol)) =!= "")
      .select(col(idCol),
        explode(transform(Dedup.shingles(col(textCol), n), g => xxhash64(g))).as("gram"))
    val first = grams.groupBy(col("gram")).agg(min(col(idCol)).as("first_doc"))
    grams
      .join(first, "gram")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") < col(idCol), 1L).otherwise(0L)).as("n_seen"))
      .select(col(idCol), col("n_grams"), col("n_seen"),
        round(lit(1.0) - col("n_seen").cast("double") / col("n_grams"), 4)
          .as("novelty"))
  }

  /** Materialize [[mixtureWeights]]: down-sample over-represented domains
    * toward the uniform mixture with a DETERMINISTIC per-doc Bernoulli
    * draw — keep doc iff u(doc) < min(weight(group), 1), where u is the
    * 16-bit md5 bucket of the id ([[Sampling.pctBucket]]'s draw, full
    * 65536 range). Same row → same decision on every run, engine, and
    * task retry; no `rand()`.
    *
    * The capped comparison is ONE integer inequality:
    * u * n_groups * n_tokens(group) < 65536 * total_tokens — when
    * weight >= 1 the right side dominates every u < 65536, so the cap
    * costs nothing and nothing is ever float-compared (no cross-engine
    * boundary risk). 64-bit headroom: u * n_groups * n_tokens stays under
    * 2^63 up to ~2e12 corpus tokens per group-count-of-5; past that the
    * multiplicands move to decimal(38,0). Plan: one group agg + a one-row
    * total, both broadcast back — the corpus itself never shuffles.
    */
  /** @param reference corpus the weights are measured on; defaults to
    *   `docs` itself. Pass a STATIC reference to resample a different
    *   relation — including a live STREAM: both weight tables broadcast,
    *   the keep decision is a map-side scalar, so the whole operator is
    *   stateless under Structured Streaming (nothing to watermark).
    */
  def mixtureResample(
      docs: DataFrame,
      groupCol: String,
      textCol: String = "text",
      idCol: String = "doc_id",
      reference: Option[DataFrame] = None): DataFrame = {
    val perGroup = reference.getOrElse(docs)
      .groupBy(col(groupCol))
      .agg(sum(TextAnalysis.tokenCount(col(textCol)).cast("long")).as("_gtok"))
    val totals = perGroup.agg(
      sum(col("_gtok")).as("_ttok"), count(lit(1)).as("_ngroups"))
    val u = conv(substring(md5(col(idCol).cast("string").cast("binary")), 1, 4), 16, 10)
      .cast("long")
    docs
      .join(broadcast(perGroup), groupCol)
      .crossJoin(broadcast(totals))
      .filter(u * col("_ngroups") * col("_gtok") < lit(65536L) * col("_ttok"))
      .drop("_gtok", "_ttok", "_ngroups")
  }

  /** Temperature (α) resampling across groups — the multilingual mixing
    * recipe of XLM-R (Conneau et al. 2020, arXiv:1911.02116 §3.1) and
    * mT5: target group shares q_i ∝ p_i^α flatten the natural
    * distribution p_i (α < 1 boosts tail languages/sources; α = 1 keeps
    * it; α = 0 is the uniform mixture — exactly [[mixtureResample]]'s
    * target, which this operator generalizes). Implemented as a pure
    * DOWN-sample: keep rate r_i = p_i^(α−1) / max_j p_j^(α−1), so the
    * most-boosted (smallest) group keeps everything and no row is ever
    * replicated — upsampling is the data loader's job (epoch-varying
    * repeats belong there, not materialized in the corpus).
    *
    * Determinism/portability: the per-doc draw is the 16-bit md5 bucket
    * ([[Sampling.pctBucket]]'s discipline — same row, same decision on
    * every run, engine, and task retry; no `rand()`), and the keep rate
    * is ROUNDED to 4 decimals before the comparison so the one pow/div
    * chain can never flip a boundary row on cross-engine ulp drift
    * (q133's rounded-band precedent).
    *
    * Shape: per-group token totals + the one-row max-boost scalar both
    * broadcast back; the keep decision is a map-side comparison — the
    * corpus itself NEVER shuffles, and (as with [[mixtureResample]]) a
    * static `reference` makes the operator stateless under Structured
    * Streaming.
    */
  def temperatureResample(
      docs: DataFrame,
      groupCol: String,
      alpha: Double = 0.5,
      textCol: String = "text",
      idCol: String = "doc_id",
      reference: Option[DataFrame] = None): DataFrame = {
    require(alpha >= 0.0 && alpha <= 1.0, "alpha in [0, 1]")
    val perGroup = reference.getOrElse(docs)
      .groupBy(col(groupCol))
      .agg(sum(TextAnalysis.tokenCount(col(textCol)).cast("long")).as("_gtok"))
    val total = perGroup.agg(sum(col("_gtok")).cast("double").as("_ttok"))
    val boosted = perGroup.crossJoin(broadcast(total))
      .select(col(groupCol),
        pow(col("_gtok") / col("_ttok"), lit(alpha - 1.0)).as("_boost"))
    val maxBoost = boosted.agg(max(col("_boost")).as("_bmax"))
    val rates = boosted.crossJoin(broadcast(maxBoost))
      .select(col(groupCol),
        round(col("_boost") / col("_bmax"), 4).as("keep_rate"))
    val u = conv(substring(md5(col(idCol).cast("string").cast("binary")), 1, 4), 16, 10)
      .cast("long")
    docs
      .join(broadcast(rates), groupCol)
      .filter(u.cast("double") < lit(65536.0) * col("keep_rate"))
  }

  /** Duplicated-passage REMOVAL — the repair twin of [[dupNgramFraction]]
    * and the token-shingle analog of ExactSubstr dedup (Lee et al. 2021,
    * arXiv:2107.06499): delete every token covered by a word `n`-gram that
    * also appears in at least one OTHER document, keep the rest in order.
    * Returns (doc_id, n_tokens, n_removed, clean_text); docs shorter than
    * `n` tokens (no grams) pass through untouched, fully-covered docs come
    * back as `""` — the doc row itself always survives.
    *
    * Unlike the rest of the corpus family this splits on the literal
    * separator WITHOUT normalizing: removal must reconstruct the surviving
    * original text, so tokenization has to be lossless (a production run
    * over raw bytes would carry byte offsets instead).
    *
    * Shape: positional grams via one `transform`+`explode` generator;
    * cross-doc grams detected with a min!=max hash agg (no countDistinct);
    * covered token positions re-aggregated per doc as a set; one join back
    * to the token arrays and a map-side indexed-`filter` rebuild. Three
    * shuffles — gram agg, gram join-back, per-doc position-set agg — all
    * on 8-byte xxhash64 gram keys (collision/oracle-pin argument in the
    * kernel's comment). The per-token `array_contains` probe of the
    * covered set (O(|cov|) per token, fine at bounded doc length) would
    * switch to a sorted-array binary search at extreme doc lengths.
    */
  /** Shared kernel of [[removeDuplicatedPassages]] and
    * [[longestDuplicatedRun]]: (token arrays, covered token positions) —
    * a position is covered when any cross-doc duplicated n-gram spans it.
    * `covered` carries duplicates from overlapping grams; consumers dedup
    * in their own aggregation (collect_set / DISTINCT) so no extra
    * exchange is spent here.
    */
  private def duplicatedCoverage(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      n: Int): (DataFrame, DataFrame) = {
    // NULL text guard (same invariant as dupNgramFraction/decontaminate):
    // split(NULL) is a NULL array, which would silently emit n_tokens = -1
    // and clean_text "" downstream — NULL-text docs are excluded instead
    val toks = docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol), split(col(textCol), " ", -1).as("ts"))
    // the gram never leaves the generator as a string: the shuffle key is
    // xxhash64(gram) — fixed 8 bytes per row where positional grams of raw
    // text would skew far wider (same collision/oracle-pin argument as
    // dupNgramFraction; q107/q114's positional-gram oracles stay green)
    val grams = toks
      .filter(size(col("ts")) >= n)
      .select(col(idCol), explode(transform(
        sequence(lit(0), size(col("ts")) - n),
        i => struct(i.as("pos"),
          xxhash64(concat_ws(" ", slice(col("ts"), i + 1, lit(n)))).as("gram")))).as("pg"))
      .select(col(idCol), col("pg.pos").as("pos"), col("pg.gram").as("gram"))
    val dup = grams
      .groupBy(col("gram"))
      .agg(min(col(idCol)).as("_mn"), max(col(idCol)).as("_mx"))
      .filter(col("_mn") =!= col("_mx"))
      .select(col("gram"))
    val covered = grams
      .join(dup, "gram")
      .select(col(idCol), explode(sequence(col("pos"), col("pos") + (n - 1))).as("tpos"))
    (toks, covered)
  }

  def removeDuplicatedPassages(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      n: Int = 3): DataFrame = {
    val (toks, covered) = duplicatedCoverage(docs, textCol, idCol, n)
    val coveredPerDoc = covered
      .groupBy(col(idCol))
      .agg(collect_set(col("tpos")).as("cov"))
    toks
      .join(coveredPerDoc, Seq(idCol), "left")
      .select(
        col(idCol),
        size(col("ts")).cast("long").as("n_tokens"),
        coalesce(size(col("cov")), lit(0)).cast("long").as("n_removed"),
        concat_ws(" ", filter(col("ts"),
          (t, i) => !coalesce(array_contains(col("cov"), i), lit(false))))
          .as("clean_text"))
  }

  /** Duplicated-passage removal that KEEPS THE FIRST occurrence — the
    * faithful ExactSubstr semantics (Lee et al. 2021, arXiv:2107.06499:
    * "remove all but one occurrence"), where [[removeDuplicatedPassages]]
    * is the stricter both-sides strip. One occurrence of every duplicated
    * passage survives in the corpus — the canonical copy is the GLOBALLY
    * FIRST one (min (id, pos) over the gram's occurrences; any total
    * order works — callers with crawl timestamps pass them as `idCol`).
    * Unlike the cross-doc-only strip, WITHIN-doc repeats count too: a doc
    * that repeats its own boilerplate keeps one copy.
    *
    * A token position is removed iff some duplicated n-gram covering it
    * is a non-first occurrence — so a first occurrence can still lose
    * tokens that other grams' later occurrences cover, which is exactly
    * the per-position Lee semantics (they strip byte ranges, we strip
    * token positions).
    *
    * Same lossless-tokenization caveat and plan shape as
    * [[removeDuplicatedPassages]]: literal-separator split, positional
    * grams from one in-array generator, per-gram (count, min-(id,pos))
    * hash agg on 8-byte xxhash64 keys, join-back, per-doc position-set
    * agg, map-side indexed rebuild — three fixed-width-key shuffles.
    */
  def removeDuplicatedPassagesKeepFirst(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      n: Int = 3): DataFrame = {
    val toks = docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol), split(col(textCol), " ", -1).as("ts"))
    val grams = toks
      .filter(size(col("ts")) >= n)
      .select(col(idCol), explode(transform(
        sequence(lit(0), size(col("ts")) - n),
        i => struct(i.as("pos"),
          xxhash64(concat_ws(" ", slice(col("ts"), i + 1, lit(n)))).as("gram")))).as("pg"))
      .select(col(idCol), col("pg.pos").as("pos"), col("pg.gram").as("gram"))
    val first = grams
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("c"),
        min(struct(col(idCol).as("fid"), col("pos").as("fpos"))).as("f"))
      .filter(col("c") >= 2)
      .select(col("gram"), col("f.fid").as("fid"), col("f.fpos").as("fpos"))
    val covered = grams
      .join(first, "gram")
      .filter(!(col(idCol) === col("fid") && col("pos") === col("fpos")))
      .select(col(idCol), explode(sequence(col("pos"), col("pos") + (n - 1))).as("tpos"))
    val coveredPerDoc = covered
      .groupBy(col(idCol))
      .agg(collect_set(col("tpos")).as("cov"))
    toks
      .join(coveredPerDoc, Seq(idCol), "left")
      .select(
        col(idCol),
        size(col("ts")).cast("long").as("n_tokens"),
        coalesce(size(col("cov")), lit(0)).cast("long").as("n_removed"),
        concat_ws(" ", filter(col("ts"),
          (t, i) => !coalesce(array_contains(col("cov"), i), lit(false))))
          .as("clean_text"))
  }

  /** Longest duplicated-passage run per document: the maximum count of
    * CONSECUTIVE token positions covered by cross-doc duplicated n-grams
    * (same coverage kernel as [[removeDuplicatedPassages]]) — the "how
    * long is the longest boilerplate block" signal that tells a template
    * page (one giant run) from organically repetitive text (many short
    * runs), which the scalar coverage fraction cannot.
    *
    * Runs come from the islands trick: within a doc's sorted covered
    * positions, tpos - row_number() is constant per consecutive run. The
    * window sorts only COVERED positions of one doc at a time — bounded
    * by doc length, a vanishing slice of the corpus.
    */
  /** CCNet-style LM-fit quality signal (Wenzek et al. 2020,
    * arXiv:1911.00359 — the "perplexity filter" of that pipeline, with the
    * corpus itself as the language model): per-document cross-entropy
    * under the corpus's own bigram LM. P(w2|w1) = C(w1 w2) / C(w1 ·) is
    * maximum-likelihood over SEQUENTIAL (non-distinct) bigrams — no
    * smoothing needed, because every bigram being scored is part of the
    * counts it is scored against. H(doc) = -avg ln P; boilerplate that
    * reads like everything else scores LOW, unusual token transitions
    * score HIGH — both tails are the curation review set. Docs with fewer
    * than 2 tokens carry no signal and report (0, 0.0).
    *
    * Shape: map-side positional bigram generator (an in-array transform —
    * never a positions self-join), two hash aggs (bigram counts,
    * continuation counts), two equi-joins back on 8-byte xxhash64 keys
    * (collision/oracle-pin argument as [[dupNgramFraction]]), one per-doc
    * agg. All shuffles carry fixed-width keys; the ln/avg runs once per
    * bigram occurrence, map-side after the joins.
    */
  def bigramCrossEntropy(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val ts = tokens(col(textCol))
    val bigrams = docs
      .filter(col(textCol).isNotNull && trim(col(textCol)) =!= "")
      .select(col(idCol), ts.as("_ts"))
      .filter(size(col("_ts")) >= 2)
      .select(col(idCol), explode(transform(
        sequence(lit(0), size(col("_ts")) - 2),
        i => struct(
          xxhash64(element_at(col("_ts"), i + 1), element_at(col("_ts"), i + 2)).as("bg"),
          xxhash64(element_at(col("_ts"), i + 1)).as("ug")))).as("p"))
      .select(col(idCol), col("p.bg").as("bg"), col("p.ug").as("ug"))
    val bigramCounts = bigrams.groupBy(col("bg")).agg(count(lit(1)).as("cb"))
    val contCounts = bigrams.groupBy(col("ug")).agg(count(lit(1)).as("cu"))
    val perDoc = bigrams
      .join(bigramCounts, "bg")
      .join(contCounts, "ug")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        round(-avg(log(col("cb").cast("double") / col("cu"))), 4).as("cross_entropy"))
    docs.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("cross_entropy"), lit(0.0)).as("cross_entropy"))
  }

  /** Per-document cross-entropy under an INTERPOLATED trigram LM
    * (Jelinek-Mercer linear smoothing, Jelinek & Mercer 1980; the
    * fixed-weight ancestor of KenLM-style filtering models):
    * P(w₃|w₁w₂) = λ₃·C(w₁w₂w₃)/C(w₁w₂·) + λ₂·C(w₂w₃)/C(w₂·) + λ₁·C(w₃)/N.
    * The backoff terms are what X115's unsmoothed bigram CE cannot give:
    * a trigram seen once in a huge corpus no longer scores as certainty,
    * and the signal separates fluent-but-novel text from template soup at
    * a longer horizon than bigrams.
    *
    * Shape (q115's discipline, one order up): positional trigram/bigram
    * generators are in-array transforms — no positions self-join — and
    * each of the five count tables hash-aggregates its stream map-side
    * before an 8-byte-key exchange (keys are tagged xxhash64 so the three
    * stream vocabularies never collide); the token total enters as a
    * one-row broadcast. Everything joins back to the trigram stream as
    * equi-joins, CE is one per-doc avg. At 100 TB: count tables are
    * vocabulary-bounded, the corpus shuffles only as 8-byte keys.
    */
  def trigramCrossEntropy(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      l3: Double = 0.6,
      l2: Double = 0.3,
      l1: Double = 0.1): DataFrame = {
    require(math.abs(l3 + l2 + l1 - 1.0) < 1e-9,
      "trigramCrossEntropy: interpolation weights must sum to 1")
    val ts = tokens(col(textCol))
    val base = docs
      .filter(col(textCol).isNotNull && trim(col(textCol)) =!= "")
      .select(col(idCol), ts.as("_ts"))
    val trigrams = base
      .filter(size(col("_ts")) >= 3)
      .select(col(idCol), explode(transform(
        sequence(lit(0), size(col("_ts")) - 3),
        i => struct(
          xxhash64(element_at(col("_ts"), i + 1), element_at(col("_ts"), i + 2),
            element_at(col("_ts"), i + 3)).as("tg"),
          xxhash64(element_at(col("_ts"), i + 1),
            element_at(col("_ts"), i + 2)).as("c2"),
          xxhash64(lit("bg"), element_at(col("_ts"), i + 2),
            element_at(col("_ts"), i + 3)).as("bg"),
          xxhash64(lit("ug"), element_at(col("_ts"), i + 2)).as("c1"),
          xxhash64(lit("w"), element_at(col("_ts"), i + 3)).as("w")))).as("p"))
      .select(col(idCol), col("p.tg"), col("p.c2"), col("p.bg"),
        col("p.c1"), col("p.w"))
    val bigrams = base
      .filter(size(col("_ts")) >= 2)
      .select(explode(transform(
        sequence(lit(0), size(col("_ts")) - 2),
        i => struct(
          xxhash64(lit("bg"), element_at(col("_ts"), i + 1),
            element_at(col("_ts"), i + 2)).as("bg"),
          xxhash64(lit("ug"), element_at(col("_ts"), i + 1)).as("c1")))).as("p"))
      .select(col("p.bg"), col("p.c1"))
    val toks = base.select(explode(col("_ts")).as("_t"))
      .select(xxhash64(lit("w"), col("_t")).as("w"))
    val c3 = trigrams.groupBy(col("tg")).agg(count(lit(1)).as("n3"))
    val cc2 = trigrams.groupBy(col("c2")).agg(count(lit(1)).as("nc2"))
    val cb = bigrams.groupBy(col("bg")).agg(count(lit(1)).as("nb"))
    val cc1 = bigrams.groupBy(col("c1")).agg(count(lit(1)).as("nc1"))
    val cw = toks.groupBy(col("w")).agg(count(lit(1)).as("nw"))
    val nTok = toks.agg(count(lit(1)).as("n_tok"))
    // λ·(num/den) with this exact association on both engines — a
    // (λ·num)/den association produces different doubles
    val p = lit(l3) * (col("n3").cast("double") / col("nc2")) +
      lit(l2) * (col("nb").cast("double") / col("nc1")) +
      lit(l1) * (col("nw").cast("double") / col("n_tok"))
    val perDoc = trigrams
      .join(c3, "tg").join(cc2, "c2").join(cb, "bg")
      .join(cc1, "c1").join(cw, "w")
      .crossJoin(broadcast(nTok)) // one row: a broadcast scalar
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_trigrams"),
        round(-avg(log(p)), 4).as("cross_entropy"))
    docs.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_trigrams"), lit(0L)).as("n_trigrams"),
        coalesce(col("cross_entropy"), lit(0.0)).as("cross_entropy"))
  }

  /** Per-document cross-entropy under an interpolated KNESER-NEY bigram LM
    * (Kneser & Ney 1995; Chen & Goodman 1998's interpolated form — the
    * smoothing KenLM ships, i.e. what CCNet-style perplexity filters
    * actually run): P(w|u) = (C(uw) − D)/C(u·) + (D·N₁₊(u·)/C(u·))·P_cont(w),
    * P_cont(w) = N₁₊(·w)/N₁₊(··). Unlike X115's ML estimate or X159's
    * Jelinek-Mercer mix, the backoff mass is CONTINUATION counts — "in how
    * many distinct contexts does w appear" — so boilerplate tokens that are
    * frequent in one template ("francisco" after "san") stop inflating the
    * unigram floor. Absolute discount D = 0.75 (the Chen-Goodman default);
    * self-scoring keeps C(uw) ≥ 1 > D, so the discounted numerator never
    * clamps. Docs with fewer than 2 tokens report (0, 0.0).
    *
    * Shape (q115's discipline): the positional bigram generator is an
    * in-array transform — never a positions self-join; THREE count tables
    * (bigram; left-context count + distinct-continuation in ONE grouped
    * agg; distinct-predecessor per right word), each hash-aggregating
    * map-side before an 8-byte tagged-xxhash64 exchange; the distinct
    * bigram-type total enters as a one-row broadcast. At 100 TB all count
    * tables are vocabulary-bounded and the corpus shuffles only 8-byte
    * keys. The (c−D)/cu + (D·n1u/cu)·(n1w/nbt) association mirrors the
    * DuckDB oracle exactly (q159's precedent: a different association
    * produces different doubles).
    */
  def kneserNeyCrossEntropy(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      discount: Double = 0.75): DataFrame = {
    require(discount > 0 && discount < 1, "discount must be in (0, 1)")
    val ts = tokens(col(textCol))
    val bigrams = docs
      .filter(col(textCol).isNotNull && trim(col(textCol)) =!= "")
      .select(col(idCol), ts.as("_ts"))
      .filter(size(col("_ts")) >= 2)
      .select(col(idCol), explode(transform(
        sequence(lit(0), size(col("_ts")) - 2),
        i => struct(
          xxhash64(element_at(col("_ts"), i + 1), element_at(col("_ts"), i + 2)).as("bg"),
          xxhash64(lit("l"), element_at(col("_ts"), i + 1)).as("ul"),
          xxhash64(lit("r"), element_at(col("_ts"), i + 2)).as("wr")))).as("p"))
      .select(col(idCol), col("p.bg"), col("p.ul"), col("p.wr"))
    val bigramCounts = bigrams.groupBy(col("bg")).agg(count(lit(1)).as("cb"))
    // C(u·) and N1+(u·) fold in ONE grouped agg over the left context
    val leftStats = bigrams.groupBy(col("ul"))
      .agg(count(lit(1)).as("cu"), countDistinct(col("bg")).as("n1u"))
    val rightStats = bigrams.groupBy(col("wr"))
      .agg(countDistinct(col("bg")).as("n1w"))
    val typeTotal = bigramCounts.agg(count(lit(1)).as("nbt"))
    val p = (col("cb").cast("double") - lit(discount)) / col("cu") +
      (lit(discount) * col("n1u") / col("cu")) *
        (col("n1w").cast("double") / col("nbt"))
    val perDoc = bigrams
      .join(bigramCounts, "bg").join(leftStats, "ul").join(rightStats, "wr")
      .crossJoin(broadcast(typeTotal)) // one row: a broadcast scalar
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        round(-avg(log(p)), 4).as("cross_entropy"))
    docs.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("cross_entropy"), lit(0.0)).as("cross_entropy"))
  }

  /** DSIR-style importance weights for targeted data selection (Xie et
    * al. 2023, arXiv:2302.03169): score every raw-corpus doc by how much
    * more likely its tokens are under a TARGET distribution (a curated
    * high-quality sample) than under the raw corpus — log w(doc) =
    * Σ_tokens [ln P_target(bucket) − ln P_raw(bucket)] over `buckets`
    * HASHED unigram buckets with add-1 smoothing (the paper's hashed
    * n-gram trick: the model is two fixed-size count vectors, never a
    * vocabulary). `keep` selects docs at or above the corpus MEDIAN raw
    * weight — a sparse target penalizes every doc through smoothing, so
    * the cut is relative, not at zero; blank docs carry no signal and
    * never pass.
    *
    * The DEFAULT bucket hash is the md5-prefix idiom
    * ([[Sampling.pctBucket]]'s discipline — engine-portable, so the whole
    * operator is exactly DuckDB-oracle-checkable end to end, booleans
    * included); md5 costs ~2/3 of the operator's runtime, so a production
    * run passes `bucketHash = t => pmod(xxhash64(t), lit(buckets))` —
    * identical semantics under any uniform hash, ~3x cheaper, just not
    * replayable by the SQL oracle. Shape: one token-bucket generator per
    * side, two bucket-count hash aggs (the "model build" — at 100 TB both
    * reduce to `buckets`-row tables), count totals and the exact
    * interpolated median as one-row broadcast scalars, scoring as one
    * equi-join + per-doc agg. The raw corpus never shuffles by anything
    * wider than the 8-byte bucket id.
    */
  def importanceWeights(
      docs: DataFrame,
      target: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      buckets: Int = 4096,
      bucketHash: Option[Column => Column] = None,
      targetIsSubset: Boolean = false): DataFrame = {
    require(buckets > 1, "need at least 2 hash buckets")
    val hash = bucketHash.getOrElse((t: Column) =>
      conv(substring(md5(t.cast("binary")), 1, 8), 16, 10)
        .cast("long") % buckets)
    val bucketed = (d: DataFrame) => d
      .filter(col(textCol).isNotNull && trim(col(textCol)) =!= "")
      .select(col(idCol), explode(tokens(col(textCol))).as("tok"))
      .select(col(idCol), hash(col("tok")).as("b"))
    // collapse the raw token stream to per-(doc, bucket) counts FIRST and
    // persist the compact frame: the bucket hash (the operator's dominant
    // per-row cost) evaluates once per occurrence instead of once on each
    // of the two raw-side consumers (the count model AND the scoring
    // probe), and everything downstream — model counts, scoring join,
    // per-doc fold — carries ≤ min(buckets, doc_tokens) rows per doc
    // rather than the occurrence stream. The per-doc weight becomes the
    // count-weighted sum Σ k·ln-ratio — the same real number as the
    // per-occurrence sum (displays are 4-digit-rounded; the oracle
    // replays the same collapsed form's values).
    val rawCells = bucketed(docs)
      .groupBy(col(idCol), col("b")).agg(count(lit(1)).as("_k"))
      .persist()
    // targetIsSubset: when the target frame is a row subset of `docs`
    // (the q116 shape — "weight the corpus against its English slice"),
    // its per-bucket counts are EXACTLY the sum of the already-collapsed
    // per-(doc, bucket) cells over the target's ids — so the target side
    // re-uses the persisted collapse instead of re-exploding and
    // re-hashing its whole token stream a second time (the bucket hash
    // is the operator's dominant per-row cost). Same integers by
    // construction; the general two-corpora form keeps the second pass.
    val targetCounts =
      if (targetIsSubset)
        rawCells.join(target.select(col(idCol)), Seq(idCol))
          .groupBy(col("b")).agg(sum(col("_k")).as("ct"))
      else bucketed(target).groupBy(col("b")).agg(count(lit(1)).as("ct"))
    val rawCounts = rawCells.groupBy(col("b")).agg(sum(col("_k")).as("cr"))
    val totals = targetCounts.agg(sum(col("ct")).as("tt"))
      .crossJoin(rawCounts.agg(sum(col("cr")).as("rt")))
    val perDoc = rawCells
      .join(rawCounts, "b") // inner: every raw bucket is in the raw counts
      .join(targetCounts, Seq("b"), "left")
      .crossJoin(broadcast(totals))
      .groupBy(col(idCol))
      .agg(sum(col("_k")).as("n_tokens"),
        sum(col("_k") *
          (log((coalesce(col("ct"), lit(0L)) + 1.0) / (col("tt") + buckets)) -
            log((col("cr") + 1.0) / (col("rt") + buckets)))).as("_lw"))
      // both the median pass and the scoring join consume perDoc — persist
      // the compact (id, n_tokens, _lw) frame so the scoring pipeline runs
      // ONCE (intra-query lifecycle, the GlobalRank discipline: Bench
      // clears caches between queries)
      .persist()
    // exact interpolated median via the distributed rank (bit-identical
    // to the percentile aggregate this replaces, but never buffering the
    // per-doc weights in one unsplittable aggregation state — the r10
    // scale flag; see GlobalRank.percentileValues)
    val median = GlobalRank.percentileLiterals(
      perDoc, "_lw", idCol, Seq(0.5), Seq("_med"))
    docs.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .crossJoin(broadcast(median))
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        round(coalesce(col("_lw"), lit(0.0)), 4).as("log_weight"),
        coalesce(col("_lw") >= col("_med"), lit(false)).as("keep"))
  }

  /** Model-as-literal scoring twin of [[importanceWeights]]: collect the
    * two bucket-count tables ONCE (a bounded driver step — the model is
    * `buckets` longs per side by construction, the same boundedness as
    * [[Similarity.kmeansCentroids]]' centroid literals), fold them into a
    * literal per-bucket log-ratio array, and return a pure map-side
    * scoring COLUMN: log w(text) = Σ_tokens logRatio[bucket(token)].
    * Because the model rides the plan as a constant, the score works on a
    * LIVE STREAM with zero state (nothing to watermark) and on any batch
    * frame without re-deriving the model — the production shape for
    * "score everything against last night's target model". Agrees with
    * the batch operator's raw `log_weight` exactly (spec-pinned): same
    * hash, same smoothing, same arithmetic, just evaluated per row.
    */
  def importanceScorer(
      target: DataFrame,
      reference: DataFrame,
      textCol: String = "text",
      buckets: Int = 4096): Column => Column = {
    require(buckets > 1, "need at least 2 hash buckets")
    val bucketCounts = (d: DataFrame) => {
      val counts = new Array[Long](buckets)
      d.filter(col(textCol).isNotNull && trim(col(textCol)) =!= "")
        .select(explode(tokens(col(textCol))).as("tok"))
        .select((conv(substring(md5(col("tok").cast("binary")), 1, 8), 16, 10)
          .cast("long") % buckets).as("b"))
        .groupBy(col("b")).agg(count(lit(1)).as("c"))
        .collect().foreach(r => counts(r.getLong(0).toInt) = r.getLong(1))
      counts
    }
    val ct = bucketCounts(target)
    val cr = bucketCounts(reference)
    val tt = ct.sum.toDouble + buckets
    val rt = cr.sum.toDouble + buckets
    val logRatio = Array.tabulate(buckets)(b =>
      math.log((ct(b) + 1.0) / tt) - math.log((cr(b) + 1.0) / rt))
    val ratios = array(logRatio.map(lit(_)).toIndexedSeq: _*)
    (text: Column) =>
      aggregate(tokens(text), lit(0.0), (acc, t) =>
        acc + element_at(ratios,
          (conv(substring(md5(t.cast("binary")), 1, 8), 16, 10)
            .cast("long") % buckets).cast("int") + 1))
  }

  /** Feature-hashing vectorizer (the hashing trick, Weinberger et al.
    * 2009, arXiv:0902.2206): every document becomes a fixed-`dim`
    * L2-normalized term-frequency vector over hashed token buckets — no
    * vocabulary is ever built or broadcast, which is the whole point at
    * corpus scale. The output column plugs straight into the similarity
    * family ([[Similarity.bruteForceTopK]], LSH/IVF indexes, semantic
    * dedup), giving every embedding operator a text-only on-ramp.
    *
    * Shape: token explode → per-(doc, bucket) count agg (map-side
    * partials collapse the token stream) → per-doc sparse collect +
    * in-array densify/normalize (doc-bounded work). Two shuffles, both
    * keyed by (id, 8-byte bucket). The default bucket hash is the
    * engine-portable md5 idiom so q119's oracle replays the exact vectors;
    * production swaps xxhash64 in via `bucketHash` (importanceWeights'
    * discipline).
    */
  def hashedFeatures(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      dim: Int = 256,
      bucketHash: Option[Column => Column] = None): DataFrame = {
    require(dim > 1, "need at least 2 dimensions")
    val hash = bucketHash.getOrElse((t: Column) =>
      conv(substring(md5(t.cast("binary")), 1, 8), 16, 10).cast("long") % dim)
    val counts = docs
      .filter(col(textCol).isNotNull && trim(col(textCol)) =!= "")
      .select(col(idCol), explode(tokens(col(textCol))).as("tok"))
      .select(col(idCol), hash(col("tok")).as("b"))
      .groupBy(col(idCol), col("b"))
      .agg(count(lit(1)).as("tf"))
    // the L2 norm comes from the SPARSE integer counts inside the same
    // aggregate — sqrt(sum(tf^2)) — never from the densified array: a
    // norm computed downstream of the dense transform gets INLINED back
    // into the per-element division by projection collapse, re-running
    // the O(dim) aggregate once per element (measured 40ms/doc at
    // dim=256). Integer sums of squares are also exactly order-
    // insensitive, which is what lets the oracle replay the values.
    val sparse = counts
      .groupBy(col(idCol))
      .agg(map_from_entries(collect_list(struct(col("b"), col("tf")))).as("_m"),
        sqrt(sum(col("tf") * col("tf")).cast("double")).as("_nrm"))
    val dense = transform(sequence(lit(0), lit(dim - 1)),
      d => coalesce(element_at(col("_m"), d.cast("long")), lit(0L)).cast("double"))
    docs.select(col(idCol)).join(sparse, Seq(idCol), "left")
      .select(col(idCol),
        when(col("_m").isNull, array_repeat(lit(0.0f), dim)).otherwise(
          transform(dense, x => (x / col("_nrm")).cast("float"))).as("features"))
  }

  /** [[hashedFeatures]]' nonzero entries WITHOUT the dense detour:
    * (id, dim, v) rows straight from the (doc, bucket) tf aggregate.
    * Exactly the rows `posexplode(features)` + `v != 0` yields from the
    * dense form — a bucket appears iff tf >= 1 there too, docs with no
    * tokens yield all-zero arrays there and no rows here, and
    * v = float(double(tf) / nrm) is the same IEEE chain — but the O(dim)
    * per-doc densify + explode + filter never runs (measured ~1.3 s of
    * q119's warm pass at sf0.1: 1.28M dense entries built and exploded
    * to keep 110k). Callers that need the dense vector (the PCA/
    * whitening family) keep using [[hashedFeatures]].
    */
  def hashedFeaturesSparse(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      dim: Int = 256,
      bucketHash: Option[Column => Column] = None): DataFrame = {
    require(dim > 1, "need at least 2 dimensions")
    val hash = bucketHash.getOrElse((t: Column) =>
      conv(substring(md5(t.cast("binary")), 1, 8), 16, 10).cast("long") % dim)
    val counts = docs
      .filter(col(textCol).isNotNull && trim(col(textCol)) =!= "")
      .select(col(idCol), explode(tokens(col(textCol))).as("tok"))
      .select(col(idCol), hash(col("tok")).as("b"))
      .groupBy(col(idCol), col("b"))
      .agg(count(lit(1)).as("tf"))
    // same norm discipline as the dense form: from the sparse integer
    // counts, inside one per-doc aggregate
    val sparse = counts
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("b"), col("tf"))).as("_e"),
        sqrt(sum(col("tf") * col("tf")).cast("double")).as("_nrm"))
    sparse
      .select(col(idCol), explode(col("_e")).as("p"), col("_nrm"))
      .select(col(idCol), col("p.b").as("dim"),
        (col("p.tf").cast("double") / col("_nrm")).cast("float").as("v"))
  }

  /** Corpus-distribution drift between two snapshots — the "did the crawl
    * change under us?" monitor an ingestion pipeline runs between batches:
    * symmetric KL and Jensen-Shannon divergence between the two corpora's
    * hashed-bucket unigram distributions (add-1 smoothed over all
    * `buckets` buckets, so unseen buckets are defined on both sides and
    * every ln is finite). JS is bounded [0, ln 2]: 0 = identical mixes,
    * ln 2 = disjoint vocabularies. One grounding row out:
    * (n_tokens_a, n_tokens_b, kl_ab, kl_ba, js).
    *
    * Same engine-portable md5 bucket hash as [[importanceWeights]] (same
    * production note: swap an xxhash64 bucket hash in when nothing needs
    * to replay it in SQL). Shape: two token-bucket generators, two
    * `buckets`-row count aggs joined onto a `range(buckets)` spine (the
    * spine keeps unseen buckets in the sum), totals broadcast, one final
    * single-row aggregate — corpus size only ever flows through the
    * 8-byte bucket id.
    */
  def distributionDrift(
      corpusA: DataFrame,
      corpusB: DataFrame,
      textCol: String = "text",
      buckets: Int = 1024): DataFrame = {
    require(buckets > 1, "need at least 2 hash buckets")
    val bucketed = (d: DataFrame) => d
      .filter(col(textCol).isNotNull && trim(col(textCol)) =!= "")
      .select(explode(tokens(col(textCol))).as("tok"))
      .select((conv(substring(md5(col("tok").cast("binary")), 1, 8), 16, 10)
        .cast("long") % buckets).as("b"))
    val ca = bucketed(corpusA).groupBy(col("b")).agg(count(lit(1)).as("ca"))
    val cb = bucketed(corpusB).groupBy(col("b")).agg(count(lit(1)).as("cb"))
    val totals = ca.agg(sum(col("ca")).as("na"))
      .crossJoin(cb.agg(sum(col("cb")).as("nb")))
    val spine = corpusA.sparkSession.range(buckets).select(col("id").as("b"))
    val pa = (coalesce(col("ca"), lit(0L)) + 1.0) / (col("na") + buckets)
    val pb = (coalesce(col("cb"), lit(0L)) + 1.0) / (col("nb") + buckets)
    val m = (pa + pb) / 2.0
    spine
      .join(ca, Seq("b"), "left")
      .join(cb, Seq("b"), "left")
      .crossJoin(broadcast(totals))
      .agg(
        first(col("na")).as("n_tokens_a"),
        first(col("nb")).as("n_tokens_b"),
        round(sum(pa * log(pa / pb)), 4).as("kl_ab"),
        round(sum(pb * log(pb / pa)), 4).as("kl_ba"),
        round(sum(pa * log(pa / m)) / 2 + sum(pb * log(pb / m)) / 2, 4).as("js"))
  }

  /** Population stability index between two corpus snapshots (the
    * credit-scoring drift statistic — Siddiqi 2006 — generalized to the
    * hashed unigram mix): PSI = Σ_b (p_b − q_b)·ln(p_b/q_b) over the same
    * add-1-smoothed `buckets`-bucket distributions as
    * [[distributionDrift]], with the industry decision bands attached
    * (< 0.1 stable, < 0.25 moderate, else major). Every term is ≥ 0 and
    * unbounded above — unlike JS's [0, ln 2] — which is exactly why ops
    * teams band it rather than threshold it. The band is drawn from the
    * ROUNDED psi so the displayed (psi, band) pair is always consistent.
    *
    * Same machinery and scale shape as [[distributionDrift]]: corpus
    * size only ever flows through the 8-byte bucket id; the final row
    * folds a `buckets`-row spine.
    */
  def psiStability(
      corpusA: DataFrame,
      corpusB: DataFrame,
      textCol: String = "text",
      buckets: Int = 1024): DataFrame =
    psiStabilitySided(
      corpusA.select(col(textCol), lit(0).as("_psi_side")).unionAll(
        corpusB.select(col(textCol), lit(1).as("_psi_side"))),
      "_psi_side", textCol, buckets)

  /** [[psiStability]] over a SINGLE frame whose rows already carry their
    * side (0 = a, 1 = b) in `sideCol` — for the "both snapshots are
    * slices of one table" case (q211/q217's even/odd doc-id split),
    * where the two-DataFrame form costs one tokenize-explode-aggregate
    * pass PER SIDE over the same parquet. One explode + one bucket-keyed
    * conditional aggregate carries both sides; the spine/smoothing/psi
    * chain is the standalone one verbatim ([[psiStability]] now
    * delegates here, so the forms can't drift). Bucket counts are exact
    * longs either way, and an entirely empty side yields NULL psi/band
    * in BOTH forms (a finite PSI of pure smoothing would read "stable"
    * on no data) — the token totals still report so the caller can see
    * WHICH side was empty.
    */
  def psiStabilitySided(
      df: DataFrame,
      sideCol: String,
      textCol: String = "text",
      buckets: Int = 1024): DataFrame = {
    require(buckets > 1, "need at least 2 hash buckets")
    val bucketed = df
      .filter(col(textCol).isNotNull && trim(col(textCol)) =!= "")
      .select(col(sideCol).cast("int").as("_s"),
        explode(tokens(col(textCol))).as("tok"))
      .select(col("_s"),
        (conv(substring(md5(col("tok").cast("binary")), 1, 8), 16, 10)
          .cast("long") % buckets).as("b"))
    val counts = bucketed.groupBy(col("b")).agg(
      sum(when(col("_s") === 0, 1L).otherwise(0L)).as("ca"),
      sum(when(col("_s") === 1, 1L).otherwise(0L)).as("cb"))
    val totals = counts.agg(
      coalesce(sum(col("ca")), lit(0L)).as("na"),
      coalesce(sum(col("cb")), lit(0L)).as("nb"))
    val spine = df.sparkSession.range(buckets).select(col("id").as("b"))
    val pa = (coalesce(col("ca"), lit(0L)) + 1.0) / (col("na") + buckets)
    val pb = (coalesce(col("cb"), lit(0L)) + 1.0) / (col("nb") + buckets)
    spine
      .join(counts, Seq("b"), "left")
      .crossJoin(broadcast(totals))
      .agg(
        first(col("na")).as("n_tokens_a"),
        first(col("nb")).as("n_tokens_b"),
        // an entirely empty side has no distribution — a finite PSI made
        // of pure add-1 smoothing would read "stable" on no data. NULL
        // psi/band there restores the two-frame form's historical
        // empty-side contract in BOTH forms (ADVICE r17)
        when(first(col("na")) > 0 && first(col("nb")) > 0,
          round(sum((pa - pb) * log(pa / pb)), 4)).as("psi"))
      .select(col("n_tokens_a"), col("n_tokens_b"), col("psi"),
        when(col("psi").isNull, lit(null).cast("string"))
          .when(col("psi") < 0.1, lit("stable"))
          .when(col("psi") < 0.25, lit("moderate"))
          .otherwise(lit("major")).as("band"))
  }

  /** Drift ATTRIBUTION — [[psiStability]]/[[distributionDrift]] answer
    * "did the mix move?"; this answers "WHERE": the top-`k` hash buckets
    * by PSI contribution, each with its raw masses, exact parts-per-
    * million rates on both sides, and the lexicographically-least token
    * observed in the bucket as a human-readable sample of the vocabulary
    * region that moved. The report a crawl-ops team debugs a drift alarm
    * with.
    *
    * Scale shape: ONE union + ONE hash aggregate keyed by bucket carries
    * both sides' counts and the sample token (min — no token list is
    * ever collected); rates are exact DECIMAL integral divisions; the
    * top-k is a TakeOrderedAndProject on (term DESC, bucket) — k-bounded
    * per partition, never a full sort. The PSI term is the only double,
    * displayed as floor(term·1e6 + 0.5) ppm (ln-based, never on a
    * decimal boundary).
    */
  def driftAttribution(
      corpusA: DataFrame,
      corpusB: DataFrame,
      textCol: String = "text",
      buckets: Int = 1024,
      k: Int = 20): DataFrame = {
    require(buckets > 1 && k >= 1, "need >=2 buckets and k>=1")
    val bucketed = (d: DataFrame, side: Int) => d
      .filter(col(textCol).isNotNull && trim(col(textCol)) =!= "")
      .select(explode(tokens(col(textCol))).as("tok"))
      .select((conv(substring(md5(col("tok").cast("binary")), 1, 8), 16, 10)
        .cast("long") % buckets).as("b"),
        col("tok"), lit(side).as("_s"))
    val counts = bucketed(corpusA, 0).unionAll(bucketed(corpusB, 1))
      .groupBy(col("b"))
      .agg(
        sum(when(col("_s") === 0, 1L).otherwise(0L)).as("ca"),
        sum(when(col("_s") === 1, 1L).otherwise(0L)).as("cb"),
        min(col("tok")).as("sample_tok"))
    val totals = counts.agg(
      sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
    val spine = corpusA.sparkSession.range(buckets).select(col("id").as("b"))
    val pa = (coalesce(col("ca"), lit(0L)) + 1.0) / (col("na") + buckets)
    val pb = (coalesce(col("cb"), lit(0L)) + 1.0) / (col("nb") + buckets)
    spine
      .join(counts, Seq("b"), "left")
      .crossJoin(broadcast(totals))
      .select(col("b").as("bucket"),
        coalesce(col("ca"), lit(0L)).as("n_a"),
        coalesce(col("cb"), lit(0L)).as("n_b"),
        col("sample_tok"), col("na"), col("nb"),
        ((pa - pb) * log(pa / pb)).as("_term"))
      .selectExpr("bucket", "n_a", "n_b", "sample_tok",
        "CAST(n_a AS DECIMAL(38,0)) * 1000000 div CAST(na AS DECIMAL(38,0)) AS rate_a_ppm",
        "CAST(n_b AS DECIMAL(38,0)) * 1000000 div CAST(nb AS DECIMAL(38,0)) AS rate_b_ppm",
        "CAST(floor(_term * 1000000 + 0.5) AS BIGINT) AS psi_term_ppm",
        "_term")
      .orderBy(col("_term").desc, col("bucket"))
      .limit(k)
      .drop("_term")
  }

  /** Contamination PROVENANCE — [[decontaminate]] answers "is this train
    * doc contaminated?"; this answers "by WHICH benchmark doc, and how
    * hard?": one row per (train doc, eval doc) pair sharing at least one
    * distinct word n-gram, with the shared-gram count. The report a
    * curation team actually debugs with (was it one leaked question or a
    * wholesale copy?) and the evidence trail for dropping an eval task.
    *
    * Same broadcast shape as the parent operator: the eval gram table is
    * tiny by definition and broadcasts, so the train gram stream never
    * shuffles for the join — the only exchange is the per-pair count agg
    * on (train_id, eval_id). Gram keys are xxhash64 longs (count-only
    * use; q118's string-gram oracle pins the collision-free argument).
    */
  def contaminationProvenance(
      train: DataFrame,
      evalDocs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      n: Int = 3): DataFrame = {
    val grams = (d: DataFrame, as: String) => d
      .filter(col(textCol).isNotNull && trim(col(textCol)) =!= "")
      .select(col(idCol).as(as),
        explode(transform(Dedup.shingles(col(textCol), n), g => xxhash64(g))).as("g"))
    grams(train, "train_id")
      .join(broadcast(grams(evalDocs, "eval_id")), "g")
      .groupBy(col("train_id"), col("eval_id"))
      .agg(count(lit(1)).as("n_shared_grams"))
  }

  /** Corpus-overlap estimation WITHOUT a corpus-sized join: a k-minimum-
    * values (KMV) sketch per corpus over hashed word n-grams (Bar-Yossef
    * et al. 2002's distinct-value sketch; the Jaccard form is datasketches'
    * theta-sketch intersection). Answers "how much does crawl B overlap
    * crawl A?" before anyone pays for a full cross-corpus dedup: each side
    * reduces to its k smallest distinct 60-bit gram hashes, the union
    * sketch's shared fraction estimates Jaccard (stderr ~ sqrt(J(1-J)/k)),
    * and (k-1)/U_k estimates each side's distinct-gram count.
    *
    * Per side the plan is: gram explode → hash → distinct (ONE exchange on
    * a bare 8-byte key, with map-side partial agg collapsing repeats) →
    * `TakeOrderedAndProject` (per-partition k-row heads merged on the
    * driver — never a global sort). The sketches are bounded at k longs
    * each by construction, so folding the two into the estimate row is a
    * driver step under the same discipline as the k-means centroid
    * literals ([[Similarity]]) and the Bloom bitmap. The estimate
    * arithmetic ((|S|-1) * 2^60 / max(S), shared/|union|) is replicated
    * exactly by the DuckDB oracle — 2^60 is a power of two, so every
    * product and division is the same correctly-rounded IEEE op on both
    * engines.
    */
  def corpusOverlapSketch(
      corpusA: DataFrame,
      corpusB: DataFrame,
      textCol: String = "text",
      n: Int = 3,
      k: Int = 256): DataFrame = {
    require(k > 1, "need a sketch of at least 2 values")
    val spark = corpusA.sparkSession
    val sketch = (d: DataFrame) => d
      .filter(col(textCol).isNotNull && trim(col(textCol)) =!= "")
      .select(explode(Dedup.shingles(col(textCol), n)).as("g"))
      .select(conv(substring(md5(col("g").cast("binary")), 1, 15), 16, 10)
        .cast("long").as("h"))
      .distinct()
      .orderBy(col("h")).limit(k)
      .collect().map(_.getLong(0))
    val ska = sketch(corpusA)
    val skb = sketch(corpusB)
    if (ska.isEmpty || skb.isEmpty) {
      // an empty side has no grams: overlap is 0, its distinct estimate 0
      return spark.range(1).select(
        lit(0L).as("k_union"), lit(0L).as("n_shared"),
        lit(0.0).as("est_jaccard"),
        lit(0.0).as("est_distinct_a"), lit(0.0).as("est_distinct_b"))
    }
    val union = (ska ++ skb).distinct.sorted.take(k)
    val (sa, sb) = (ska.toSet, skb.toSet)
    val shared = union.count(h => sa(h) && sb(h))
    val two60 = 1152921504606846976.0 // 2^60, exact in double
    spark.range(1).select(
      lit(union.length.toLong).as("k_union"),
      lit(shared.toLong).as("n_shared"),
      round(lit(shared.toDouble / union.length), 4).as("est_jaccard"),
      round(lit((ska.length - 1.0) * two60 / ska.last), 4).as("est_distinct_a"),
      round(lit((skb.length - 1.0) * two60 / skb.last), 4).as("est_distinct_b"))
  }

  /** Corpus DUPLICATION SPECTRUM: the doc-frequency histogram of distinct
    * word n-grams — for each df (number of distinct documents containing a
    * gram), how many grams have it and their share of the gram vocabulary.
    * The one-page answer to "how duplicated is this crawl, and is it a few
    * template pages or corpus-wide boilerplate?" that sizes a dedup pass
    * BEFORE running it (a long df tail ⇒ [[removeDuplicatedPassages]] has
    * work to do; a df=1 spike ⇒ the corpus is already clean).
    *
    * Two hash aggs on compact keys: per-gram doc-frequency (shingles are
    * per-doc distinct, so a plain count IS the doc count — no
    * count(distinct) expansion), then the df histogram (at most
    * |corpus| rows). Gram keys are xxhash64 longs (count-only use; the
    * string-gram oracle pins the collision-free argument, q102's
    * discipline). The vocabulary total rides a one-row broadcast.
    */
  def duplicationSpectrum(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      n: Int = 3): DataFrame = {
    val docFreq = docs
      .filter(col(textCol).isNotNull && trim(col(textCol)) =!= "")
      .select(col(idCol), explode(Dedup.shingles(col(textCol), n)).as("g"))
      .select(col(idCol), xxhash64(col("g")).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("df"))
    val total = docFreq.agg(count(lit(1)).as("_n"))
    docFreq
      .groupBy(col("df")).agg(count(lit(1)).as("n_grams"))
      .crossJoin(broadcast(total))
      .select(col("df"), col("n_grams"),
        round(col("n_grams") / col("_n").cast("double"), 4).as("share"))
  }

  def longestDuplicatedRun(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      n: Int = 3): DataFrame = {
    val (toks, covered) = duplicatedCoverage(docs, textCol, idCol, n)
    val w = Window.partitionBy(col(idCol)).orderBy(col("tpos"))
    val runs = covered.distinct()
      .withColumn("_grp", col("tpos") - row_number().over(w))
      .groupBy(col(idCol), col("_grp"))
      .agg(count(lit(1)).as("_run"))
      .groupBy(col(idCol))
      .agg(sum(col("_run")).as("n_covered"), max(col("_run")).as("longest_run"))
    toks
      .join(runs, Seq(idCol), "left")
      .select(col(idCol),
        size(col("ts")).cast("long").as("n_tokens"),
        coalesce(col("n_covered"), lit(0L)).as("n_covered"),
        coalesce(col("longest_run"), lit(0L)).as("longest_run"))
  }

  /** Cross-document exact-substring SPAN evidence (Lee et al. 2022,
    * arXiv:2107.06499, "Deduplicating Training Data Makes Language Models
    * Better" — the ExactSubstr family): for every document PAIR sharing a
    * token run of at least `minRun` tokens, the length of the longest
    * shared run and the count of maximal shared runs ≥ `minRun`. Where
    * [[removeDuplicatedPassages]] answers "which of MY positions are
    * duplicated somewhere" and [[longestDuplicatedRun]] sizes the longest
    * such block per doc, this is the PAIR report — who shares the span
    * with whom — the evidence a dedup pass consults before deciding which
    * side keeps the canonical copy.
    *
    * Lee et al. build a corpus suffix array; the distributed analog is
    * n-token shingle POSTINGS with run extension along match diagonals:
    * two docs sharing a run of L ≥ n tokens share exactly L − n + 1
    * consecutive positional n-grams at one constant position offset
    * (apos − bpos), so maximal shared runs are the merged token intervals
    * [apos, apos + n − 1] of the matches per (pair, diagonal) — recovered
    * with in-array folds, no window over match rows. Each (pair,
    * diagonal) run is one ALIGNMENT: a span
    * doc b repeats twice against one copy in doc a counts as two spans
    * (two diagonals) — occurrence-pair semantics, matching what a removal
    * pass must strip.
    *
    * Bound: grams with more than `dfCap` total occurrences are excluded
    * from matching (the q108 rarest-prefix discipline — pair fan-out
    * through a gram is quadratic in its posting length). A span whose
    * grams are ALL above the cap is corpus boilerplate duplicated across
    * more than ~dfCap docs — cluster-scale dedup territory
    * ([[graft.operators.Dedup]]), not a pairwise report; a span with
    * sub-cap grams still seeds its pair, and because runs are merged on
    * TOKEN coverage (below) up to n − 1 consecutive over-cap interior
    * grams cannot split one: a run splits only where ≥ n consecutive
    * grams vanish — i.e. where some token truly has no sub-cap match
    * evidence. The oracle mirrors the cap exactly.
    *
    * Plan shape: one positional-gram generator (8-byte xxhash64 keys), a
    * per-gram count agg (map-side combine) that gates occurrences to
    * 2..dfCap BEFORE pair generation, then a PERSISTED capped-postings
    * frame self-equi-joined on the 8-byte gram key (the q155 winnowing-
    * overlap discipline: the InMemoryRelation feeds both join sides, and
    * whole-stage codegen keeps the a_id < b_id pair projection out of
    * interpreted lambda land — measured 4x over an in-array i<j
    * expansion, whose higher-order functions Spark evaluates
    * interpreted); one (a, b, diag) agg folding sorted positions to
    * merged token intervals in-array, one (a, b) rollup. Every shuffle
    * key is fixed-width, no window, and pair fan-out is bounded at
    * dfCap² per gram — the uncapped gram cross product never forms.
    */
  def exactSubstringPairs(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      n: Int = 3,
      minRun: Int = 6,
      dfCap: Int = 128): DataFrame = {
    require(n >= 1 && minRun >= n && dfCap >= 2,
      s"need n >= 1, minRun >= n, dfCap >= 2 (got n=$n minRun=$minRun dfCap=$dfCap)")
    // same lossless literal-separator split as removeDuplicatedPassages:
    // span lengths must count real tokens of the original text
    val toks = docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"), split(col(textCol), " ", -1).as("ts"))
    // persisted: the count gate's agg AND the postings join both consume
    // the gram stream — un-persisted, the tokenizer + generator + hash
    // run twice (measured ~1.4 s of the warm pass at sf0.1). The frame
    // is 20 bytes/row (id, pos, 8-byte gram key), never the text
    // (intra-query lifecycle; Bench/Verify clear caches).
    // gram keys hash the token SLICE directly (no concat_ws string build
    // per gram — the q263 discipline): matching only needs gram IDENTITY,
    // and xxhash64 over the n-token array is injective up to the same
    // 64-bit collision odds the joined-string key carried
    val grams = toks
      .filter(size(col("ts")) >= n)
      .select(col("id"), posexplode(transform(
        sequence(lit(0), size(col("ts")) - n),
        i => xxhash64(slice(col("ts"), i + 1, lit(n))))).as(Seq("pos", "gram")))
      .persist()
    // count gate FIRST (cheap: partial agg collapses map-side) — only
    // occurrences of grams with 2..dfCap total occurrences enter pair
    // generation. The gated frame persists so the self-join's two sides
    // share one materialization (q155's postings discipline).
    val keep = grams
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("_c"))
      .filter(col("_c") >= 2 && col("_c") <= dfCap)
      .select(col("gram"))
    val kept = grams.join(keep, "gram").persist()
    // a_id < b_id orients each cross-doc match exactly once; same-doc
    // matches are q114's within-doc domain, dropped here
    val matches = kept
      .join(kept.select(col("gram"), col("id").as("_bid"), col("pos").as("_bpos")),
        Seq("gram"))
      .filter(col("id") < col("_bid"))
      .select(col("id").as("a_id"), col("_bid").as("b_id"),
        col("pos").as("apos"), (col("pos") - col("_bpos")).as("diag"))
    // (a_id, apos) determines the gram and, per diagonal, b's position —
    // so gram positions are unique per (pair, diagonal). A matching gram
    // at apos covers tokens [apos, apos + n - 1]; maximal shared TOKEN
    // runs are the merged intervals of the sorted gram positions (next
    // gram extends the run iff apos' <= apos + n — token coverage stays
    // contiguous even when an interior gram is missing, e.g. dropped by
    // the df cap), run length = last - first + n. Islands over gram
    // positions alone would split such runs; token intervals do not.
    //
    // The merge runs as a WINDOW over (pair, diagonal) ordered by apos —
    // a new-run flag where apos > lag(apos) + n, a running sum of flags
    // as the run id, then min/max per run — instead of the previous
    // sort_array(collect_list) + in-array fold: one exchange + sort and
    // three codegen'd passes, where the ObjectHashAggregate held one
    // array buffer per (pair, diagonal) group (1.22M groups at sf0.1,
    // 96% singletons) and the fold ran interpreted (higher-order
    // functions don't codegen). Measured 3.8 -> ~0.9 s on the stage;
    // run boundaries, lengths, and the rollup are value-identical.
    // the window partitions by the PAIR and orders by (diag, apos), with
    // the new-run flag also firing on every diagonal change: run
    // boundaries within each (pair, diag) are identical to the
    // per-diagonal window (the running sum is monotone, so a run id never
    // collides across diagonals), but hash(a, b) partitioning now
    // satisfies BOTH downstream groupings — the per-run agg (keys extend
    // the partition spec) AND the final per-pair rollup — so the runs
    // frame reaches the rollup without a second exchange (the (a, b,
    // diag)-keyed form re-shuffled every run row for the (a, b) rollup)
    val wPair = Window.partitionBy(col("a_id"), col("b_id"))
      .orderBy(col("diag"), col("apos"))
    val newRun = when(col("diag") =!= lag(col("diag"), 1).over(wPair) ||
        col("apos") > lag(col("apos"), 1).over(wPair) + n, 1)
      .otherwise(0)
    val runs = matches
      .withColumn("_nr", newRun)
      .withColumn("_rid", sum(col("_nr")).over(
        wPair.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("a_id"), col("b_id"), col("diag"), col("_rid"))
      .agg((max(col("apos")) - min(col("apos")) + n).as("_len"))
    runs
      .groupBy(col("a_id"), col("b_id"))
      .agg(max(col("_len")).cast("long").as("max_run"),
        sum(when(col("_len") >= minRun, 1L).otherwise(0L))
          .cast("long").as("n_spans"))
      .filter(col("max_run") >= minRun)
  }

  /** Length-gated duplicated-passage removal — the REMOVAL semantic Lee
    * et al. 2022 actually ship (arXiv:2107.06499 §4: only duplicated
    * substrings of at least ~50 tokens are removed; short incidental
    * repeats stay): strip a token position iff it lies in a maximal
    * consecutive run of cross-doc-duplicated coverage at least `minRun`
    * tokens long. [[removeDuplicatedPassages]] is the strict special case
    * minRun = n — it deletes every covered token, which on natural text
    * also deletes idioms and collocations; the length gate is what makes
    * the pass safe to run over a training corpus.
    *
    * Shape: the shared [[duplicatedCoverage]] kernel, q114's islands
    * aggregation per (doc, run) with the `count >= minRun` gate, one
    * in-plan `sequence` re-expansion of the surviving runs, and q107's
    * map-side indexed rebuild. Same three fixed-width-key exchanges as
    * the strip-both pass plus one doc-keyed run agg — nothing new scales
    * past it. Same lossless-tokenization caveat: removal reconstructs the
    * surviving original text.
    */
  def removeLongDuplicatedPassages(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      n: Int = 3,
      minRun: Int = 50): DataFrame = {
    require(minRun >= n, s"minRun ($minRun) must be >= n ($n)")
    val (toks, covered) = duplicatedCoverage(docs, textCol, idCol, n)
    val w = Window.partitionBy(col(idCol)).orderBy(col("tpos"))
    val longRuns = covered.distinct()
      .withColumn("_grp", col("tpos") - row_number().over(w))
      .groupBy(col(idCol), col("_grp"))
      .agg(min(col("tpos")).as("_s"), count(lit(1)).cast("int").as("_c"))
      .filter(col("_c") >= minRun)
    val coveredPerDoc = longRuns
      .select(col(idCol), explode(sequence(col("_s"), col("_s") + col("_c") - 1)).as("tpos"))
      .groupBy(col(idCol))
      .agg(collect_set(col("tpos")).as("cov"))
    toks
      .join(coveredPerDoc, Seq(idCol), "left")
      .select(
        col(idCol),
        size(col("ts")).cast("long").as("n_tokens"),
        coalesce(size(col("cov")), lit(0)).cast("long").as("n_removed"),
        concat_ws(" ", filter(col("ts"),
          (t, i) => !coalesce(array_contains(col("cov"), i), lit(false))))
          .as("clean_text"))
  }

  /** CCNet's perplexity band split (arXiv:1911.00359 §4.3): rank every
    * document by its LM cross-entropy under the corpus's own bigram model
    * ([[bigramCrossEntropy]]) and cut the corpus into head / middle / tail
    * at the `lo` and `hi` quantiles — head (lowest perplexity) is the
    * fluent band, tail is the noisy band that gets reviewed or dropped.
    * Docs with no bigram signal (< 2 tokens) are excluded: they carry no
    * evidence in either direction.
    *
    * The cuts are EXACT interpolated percentiles (`percentile` ==
    * DuckDB's quantile_cont, the q113 precedent) computed as one
    * aggregate row broadcast back — band assignment is a map-side
    * comparison. The scored frame is persisted so the cut aggregate and
    * the final projection share one pass over the bigram pipeline.
    */
  def perplexityBands(
      docs: DataFrame,
      lo: Double = 1.0 / 3,
      hi: Double = 2.0 / 3,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(0 < lo && lo < hi && hi < 1, "need 0 < lo < hi < 1")
    val ce = bigramCrossEntropy(docs, textCol, idCol)
      .filter(col("n_bigrams") >= 1)
      .persist()
    // distributed-rank percentiles (bit-identical to the ungrouped
    // percentile aggregate; no corpus-cardinality aggregation buffer)
    val cuts = GlobalRank.percentileLiterals(
      ce, "cross_entropy", idCol, Seq(lo, hi), Seq("c_lo", "c_hi"))
    ce.crossJoin(broadcast(cuts))
      .select(col(idCol), col("cross_entropy"),
        when(col("cross_entropy") <= col("c_lo"), lit("head"))
          .when(col("cross_entropy") > col("c_hi"), lit("tail"))
          .otherwise(lit("middle")).as("band"))
  }

  /** Corpus snapshot diff — the incremental-crawl bookkeeping step: which
    * documents were added, removed, changed, or left untouched between two
    * crawls of the same id space. "Changed" compares the q15 normalized
    * fingerprint ([[graft.functions.TextAnalysis.fingerprint]]), so
    * whitespace/case-only churn does not show up as change.
    *
    * Scale shape: fingerprints are a map-side projection on each side
    * (128-bit key, never the text), and the whole diff is ONE full-outer
    * hash equi-join on the document id — the minimum possible exchange for
    * the question; at 100 TB both sides bucket by id and the join is
    * co-located.
    */
  def snapshotDiff(
      prev: DataFrame,
      cur: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val fp = graft.functions.TextAnalysis.fingerprint _
    val a = prev.select(col(idCol), fp(col(textCol)).as("_fa"))
    val b = cur.select(col(idCol), fp(col(textCol)).as("_fb"))
    a.join(b, Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("_fa").isNull, lit("added"))
          .when(col("_fb").isNull, lit("removed"))
          .when(col("_fa") =!= col("_fb"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"))
  }

  /** Top-`k` PMI collocations (Church & Hanks 1990): adjacent word pairs
    * that co-occur far more than their unigram frequencies predict —
    * multi-word entities, idioms, and template phrases. The classic
    * vocabulary-building / phrase-mining pass before tokenizer training
    * (word2vec's phrase pass uses the same statistic).
    *
    * PMI = ln(p(ab) / (p(a)·p(b))) with p(ab) = n_ab/T_b, p(w) = n_w/T.
    * The ratio is computed as one left-associative double product chain
    * mirrored verbatim by the oracle, then a single ln; ordering uses the
    * ROUNDED score (ties broken on the pair text) so rank never hinges on
    * a last-ulp ln difference. `minCount` suppresses the unstable
    * hapax-pair tail (classic PMI pathology: n_ab = 1 pairs of two rare
    * words score highest).
    *
    * Scale shape: bigram and unigram streams each collapse into a hash
    * aggregate directly above the generator (map-side combine — the token
    * explosion never shuffles raw); the two count joins are word-keyed
    * equi-joins AQE can broadcast when the surviving (n_ab ≥ minCount)
    * side is small; T/T_b ride in as a one-row broadcast; the final
    * top-k is TakeOrderedAndProject, never a global sort.
    */
  def pmiCollocations(
      docs: DataFrame,
      k: Int = 30,
      minCount: Int = 5,
      textCol: String = "text"): DataFrame = {
    val ts = tokens(col(textCol))
    val toks = docs.filter(col(textCol).isNotNull)
      .select(ts.as("ts"), size(ts).as("n"))
      .persist() // unigram + bigram streams and the totals share one pass
    val totals = toks.agg(
      sum(col("n")).as("t_uni"),
      sum(greatest(col("n") - 1, lit(0))).as("t_bi"))
    val uni = toks
      .select(explode(col("ts")).as("w"))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("n_w"))
    val bi = toks.filter(col("n") >= 2)
      .select(explode(zip_with(
        slice(col("ts"), lit(1), col("n") - 1),
        slice(col("ts"), lit(2), col("n") - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .select(col("p.w1"), col("p.w2"))
      .groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minCount)
    val num = col("n_ab").cast("double") * col("t_uni") * col("t_uni")
    val den = col("t_bi").cast("double") * col("n_a") * col("n_b")
    bi
      .join(uni.select(col("w").as("w1"), col("n_w").as("n_a")), "w1")
      .join(uni.select(col("w").as("w2"), col("n_w").as("n_b")), "w2")
      .crossJoin(broadcast(totals)) // one row: a broadcast scalar
      .select(concat(col("w1"), lit(" "), col("w2")).as("bigram"),
        col("n_ab"), round(log(num / den), 4).as("pmi"))
      .orderBy(col("pmi").desc, col("bigram"))
      .limit(k)
  }

  /** Per-group Poisson-bootstrap confidence interval for a mean (Chamandy
    * et al. 2012 — THE bootstrap that works on sharded data): instead of
    * resampling n-of-n (which needs the whole corpus in one place), each
    * row enters replica b with multiplicity k ~ Poisson(1), drawn
    * DETERMINISTICALLY from md5(seed, id, b) so retries and both engines
    * agree. Reports the observed mean and the [2.5%, 97.5%] band of `b`
    * replica means per group — the error bar a curation report puts on
    * every per-source quality number.
    *
    * Exactness: the Poisson inverse-CDF thresholds are hard decimal
    * literals (both engines parse them to identical doubles); replica
    * sums are pure BIGINT (Σk·x, Σk — associative, engine-order-free);
    * each mean is ONE double division; band endpoints are integer-rank
    * order statistics (ceil(α·B)), not interpolated quantiles.
    *
    * Scale shape: the ×B fan-out happens map-side above a hash aggregate
    * with partial combine, so the shuffle carries ≤ groups·B partial rows
    * per partition, never docs·B; the rank windows run per group over
    * exactly B rows.
    */
  def bootstrapCI(
      docs: DataFrame,
      valueCol: String,
      groupCol: String,
      replicas: Int = 200,
      idCol: String = "doc_id",
      seed: String = "boot"): DataFrame = {
    require(replicas >= 40, "need enough replicas for a 2.5% rank")
    // cumulative P[X <= j] for Poisson(1), j = 0..9; beyond that k = 10.
    // Hard literals (not exp(-1) arithmetic) so both engines share bits.
    val cum = Seq(
      0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
      0.9810118431238462, 0.9963401531726563, 0.9994058151824183,
      0.9999167588507119, 0.9999897508033253, 0.9999988747433402,
      0.9999998885745217)
    val h32 = conv(substring(
      md5(concat(lit(seed), lit(":"), col(idCol).cast("string"),
        lit(":"), col("b").cast("string")).cast("binary")),
      1, 8), 16, 10).cast("long")
    val u = (h32.cast("double") + lit(1.0)) / lit(4294967296.0)
    val kDraw = cum.zipWithIndex
      .foldLeft(when(lit(false), lit(0))) { case (acc, (t, j)) =>
        acc.when(u < t, j)
      }
      .otherwise(lit(10))
    val base = docs
      .filter(col(valueCol).isNotNull)
      .select(col(idCol), col(groupCol),
        col(valueCol).cast("long").as("_x"))
      .persist() // observed means and the replica fan-out share one scan
    val observed = base.groupBy(col(groupCol)).agg(
      count(lit(1)).as("n_rows"),
      round(sum(col("_x")).cast("double") / count(lit(1)), 4).as("mean_obs"))
    val reps = base
      .select(col(idCol), col(groupCol), col("_x"),
        explode(sequence(lit(0), lit(replicas - 1))).as("b"))
      .select(col(groupCol), col("b"), col("_x"), kDraw.as("_k"))
      .groupBy(col(groupCol), col("b"))
      .agg(sum(col("_k") * col("_x")).as("_s1"), sum(col("_k")).as("_s0"))
      .filter(col("_s0") > 0)
      .select(col(groupCol), col("b"),
        (col("_s1").cast("double") / col("_s0").cast("double")).as("_m"))
    val loRank = math.ceil(0.025 * replicas).toLong
    val hiRank = math.ceil(0.975 * replicas).toLong
    val rk = row_number().over(
      Window.partitionBy(col(groupCol)).orderBy(col("_m"), col("b")))
    val band = reps
      .withColumn("_rk", rk)
      .groupBy(col(groupCol))
      .agg(
        round(max(when(col("_rk") === loRank, col("_m"))), 4).as("ci_lo"),
        round(max(when(col("_rk") === hiRank, col("_m"))), 4).as("ci_hi"))
    observed.join(band, groupCol :: Nil)
      .select(col(groupCol), col("n_rows"), col("mean_obs"),
        col("ci_lo"), col("ci_hi"))
  }

  /** Vocabulary-growth curve (Heaps' law, the sublinear vocab-vs-corpus
    * relationship): split the corpus into `buckets` equal slices in
    * document order and report how many NEVER-SEEN-BEFORE tokens each
    * slice introduces, plus the running vocabulary size — the curve that
    * says whether more crawl still buys new language or the corpus has
    * saturated (and sizes a tokenizer's vocab before training one).
    *
    * All-integer bucket arithmetic. Each token's first appearance is
    * a min-aggregate over its bucket ids; the curve is a 10-row window
    * sum. The only full-width exchange is the (token → min bucket) hash
    * aggregate, map-side combined above the explode. The doc→bucket map
    * is rank·buckets/n, but the global rank is NEVER a single-partition
    * window: docs pre-bucket into 32 contiguous id ranges by a pure value
    * formula, per-range doc counts fold to a 32-row driver prefix scan
    * that broadcasts back as offsets, and each range ranks only its own
    * slice ([[Packing.packSequences]]'s bucket-formula cumsum — balanced
    * window sorts, no global sort, no driver bottleneck at 100 TB).
    */
  def vocabularyGrowth(
      docs: DataFrame,
      buckets: Int = 10,
      gramSize: Int = 1,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(buckets >= 1, "need at least one bucket")
    val base = docs.filter(trim(col(textCol)) =!= "")
    val preB = 32
    val bounds = base.agg(
      min(col(idCol)).as("lo"), max(col(idCol)).as("hi"),
      count(lit(1)).as("n_docs"))
    val pre = base
      .crossJoin(broadcast(bounds)) // one row: broadcast scalars
      .select(col(idCol), col(textCol), col("n_docs"),
        // span+1 keeps hi in range preB-1; all-integer floor division
        expr(s"(($idCol - lo) * $preB) div (hi - lo + 1)").as("_pb"))
    // per-range doc counts → driver prefix offsets (≤ preB rows — a
    // bounded driver step, not a data collect)
    val cnts = pre.groupBy(col("_pb")).agg(count(lit(1)).as("c"))
      .orderBy(col("_pb")).collect()
    var acc = 0L
    val offs = cnts.map { r =>
      val off = acc; acc += r.getLong(1); (r.getLong(0), off)
    }
    val spark = docs.sparkSession
    import spark.implicits._
    val offDf = offs.toSeq.toDF("_pb", "_off")
    // global rank = range offset + rank within the id range; identical to
    // row_number() OVER (ORDER BY id) - 1, with only per-range sorts
    val rk = row_number().over(
      Window.partitionBy(col("_pb")).orderBy(col(idCol))).cast("long") - 1
    val bucketed = pre
      .join(broadcast(offDf), "_pb")
      .select(
        floor((col("_off") + rk) * buckets / col("n_docs"))
          .cast("int").as("bucket"),
        col(textCol))
    // unit of vocabulary: single tokens, or the q15/q102 word shingles
    // (distinct per doc — irrelevant for a min-bucket first appearance)
    val unit =
      if (gramSize == 1) explode(tokens(col(textCol)))
      else explode(Dedup.shingles(col(textCol), gramSize))
    val firstSeen = bucketed
      .select(col("bucket"), unit.as("w"))
      .groupBy(col("w"))
      .agg(min(col("bucket")).as("first_bucket"))
      .groupBy(col("first_bucket").as("bucket"))
      .agg(count(lit(1)).as("new_tokens"))
    firstSeen
      .withColumn("vocab_size",
        sum(col("new_tokens")).over(
          Window.orderBy(col("bucket"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .orderBy(col("bucket"))
  }

  /** Mergeable distinct-vocabulary sketches (Apache DataSketches HLL via
    * Spark's built-in `hll_sketch_agg` — Flajolet et al. 2007 lineage):
    * per-source token-vocabulary estimates plus ONE union row obtained by
    * merging the per-source sketches — never recounting. This is the
    * 100 TB shape for "how big is the vocabulary per shard / overall":
    * each shard folds to a kilobyte sketch (map-side partials, one tiny
    * exchange), sketches persist and union across days or corpora in
    * driver time, while an exact global distinct would re-shuffle every
    * token of every shard each time the question is asked.
    *
    * Contract (q147 discipline): the estimate itself is
    * implementation-defined, so each row carries the EXACT distinct count
    * (which the oracle re-derives) and a pinned-TRUE boolean that the
    * sketch landed within `relTol` of it — lgK = 12 has ~1.6% relative
    * standard error, so 5% is a ≈3σ bound on real data.
    */
  def distinctTokenSketch(
      docs: DataFrame,
      lgConfigK: Int = 12,
      relTol: Double = 0.05,
      textCol: String = "text",
      sourceCol: String = "source"): DataFrame = {
    val tk = docs
      .filter(trim(col(textCol)) =!= "")
      .select(col(sourceCol).as("source"), explode(tokens(col(textCol))).as("t"))
    val per = tk
      .groupBy(col("source"))
      .agg(
        hll_sketch_agg(col("t"), lgConfigK).as("sk"),
        countDistinct(col("t")).as("n_exact"))
    val perOut = per.select(
      col("source"), col("n_exact"),
      (abs(hll_sketch_estimate(col("sk")).cast("double") - col("n_exact"))
        <= lit(relTol) * col("n_exact")).as("est_ok"))
    val globalExact = tk.agg(countDistinct(col("t")).as("n_exact"))
    val globalOut = per
      .agg(hll_union_agg(col("sk")).as("sk"))
      .crossJoin(broadcast(globalExact)) // one row x one row
      .select(
        lit("ALL").as("source"), col("n_exact"),
        (abs(hll_sketch_estimate(col("sk")).cast("double") - col("n_exact"))
          <= lit(relTol) * col("n_exact")).as("est_ok"))
    perOut.unionAll(globalOut).orderBy(col("source"))
  }

  /** BPE merge-candidate statistics (Sennrich et al. 2016 §3.2: the first
    * byte-pair-encoding iteration — count adjacent symbol pairs across the
    * corpus weighted by word frequency; the argmax pair is the first
    * merge, and the top-k list is what a tokenizer trainer consumes).
    * Two hash aggregations, both map-side combined: word → freq first
    * (so a word's character pairs are generated ONCE, not per occurrence
    * — at 100 TB the word-type table is orders of magnitude smaller than
    * the token stream), then pair → Σfreq; top-k plans as
    * `TakeOrderedAndProject`, ties broken lexicographically.
    */
  def bpePairStats(
      docs: DataFrame,
      k: Int = 30,
      textCol: String = "text"): DataFrame = {
    val words = docs
      .filter(trim(col(textCol)) =!= "")
      .select(explode(tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .filter(length(col("w")) >= 2)
    words
      .select(col("freq"),
        explode(transform(
          sequence(lit(1), length(col("w")) - 1),
          i => col("w").substr(i, lit(2)))).as("pair"))
      .groupBy(col("pair")).agg(sum(col("freq")).as("weight"))
      .orderBy(col("weight").desc, col("pair"))
      .limit(k)
  }

  /** Learn-and-apply BPE segmentation (Sennrich et al. 2016): train
    * `numMerges` merges on the thresholded word-TYPE frequency table
    * (driver-side — the "fit small, apply distributed" shape of the
    * k-means centroids: the type table under a frequency floor is orders
    * of magnitude smaller than the token stream, which is exactly why
    * sentencepiece trains on a sample), then encode every word type
    * map-side through the codegen'd [[graft.functions.BpeEncode]]
    * expression whose merge table rides as a literal reference object.
    *
    * q151's contract is self-certifying (q142 discipline): greedy BPE's
    * defining invariants — every word's tokens concatenate back to the
    * word, and every token is a contiguous substring of its word — are
    * checked across the WHOLE corpus and pinned TRUE; n_word_types is
    * re-derived by the oracle, n_merges pinned to the call.
    */
  def bpeSegment(
      docs: DataFrame,
      numMerges: Int = 50,
      minFreq: Long = 2L,
      textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    val words = docs
      .filter(trim(col(textCol)) =!= "")
      .select(explode(tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
    val trainTable = words
      .filter(col("freq") >= minFreq)
      .orderBy(col("freq").desc, col("w")) // deterministic driver order
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val merges = graft.functions.Bpe.learn(trainTable, numMerges)
    val codec = new graft.functions.BpeCodec(merges)
    val encoded = words.select(col("w"),
      graft.functions.Bpe.bpe_encode(col("w"), codec).as("toks"))
    val checked = encoded.agg(
      count(lit(1)).as("n_word_types"),
      coalesce(sum(when(concat_ws("", col("toks")) =!= col("w"), 1L)), lit(0L)).as("bad_rt"),
      coalesce(sum(when(
        exists(col("toks"), t => instr(col("w"), t) === 0), 1L)), lit(0L)).as("bad_sub"))
    checked.select(
      col("n_word_types"),
      lit(merges.length.toLong).as("n_merges"),
      (col("bad_rt") === 0L).as("roundtrip_ok"),
      (col("bad_sub") === 0L).as("substring_ok"))
  }

  /** Zipf rank-frequency fit (Zipf 1949; Piantadosi 2014 review): OLS
    * slope of ln(freq) against ln(rank) over the top-`n` tokens — the
    * one-number "is this corpus natural language or template soup?"
    * diagnostic (natural text sits near −1; boilerplate flattens, spam
    * steepens). The token-count agg is the only full-width exchange;
    * the fit folds the n-row head in EXPLICIT rank order (sorted
    * collect_list → `aggregate` fold, the engine-portable left-associative
    * sum — a plain `sum()` re-associates partials nondeterministically),
    * and ln enters once per term with the outputs rounded (q139's
    * discipline: never let a result hinge on ln ulps).
    */
  def zipfSlope(
      docs: DataFrame,
      n: Int = 200,
      textCol: String = "text"): DataFrame = {
    require(n >= 2, "need at least two ranks to fit")
    val head = docs
      .filter(trim(col(textCol)) =!= "")
      .select(explode(tokens(col(textCol))).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("t"))
      .limit(n)
      .select(
        row_number().over(Window.orderBy(col("freq").desc, col("t"))).as("rank"),
        col("freq"))
    val folded = head
      .agg(sort_array(collect_list(struct(col("rank"), col("freq")))).as("rf"))
      .select(
        size(col("rf")).cast("double").as("n"),
        aggregate(col("rf"), lit(0.0), (a, e) => a + log(e("rank"))).as("sx"),
        aggregate(col("rf"), lit(0.0), (a, e) => a + log(e("freq"))).as("sy"),
        aggregate(col("rf"), lit(0.0),
          (a, e) => a + log(e("rank")) * log(e("freq"))).as("sxy"),
        aggregate(col("rf"), lit(0.0),
          (a, e) => a + log(e("rank")) * log(e("rank"))).as("sxx"))
    folded.select(
      col("n").cast("long").as("n_ranks"),
      round((col("sxy") - col("sx") * col("sy") / col("n"))
        / (col("sxx") - col("sx") * col("sx") / col("n")), 4).as("slope"),
      round(col("sy") / col("n")
        - ((col("sxy") - col("sx") * col("sy") / col("n"))
          / (col("sxx") - col("sx") * col("sx") / col("n")))
          * (col("sx") / col("n")), 4).as("intercept"))
  }

  /** Windowed co-occurrence PMI (Church-Hanks 1990 generalized to the
    * ±`win` window — the word2vec/GloVe co-occurrence statistic, where
    * [[pmiCollocations]] is the adjacent-only special case): unordered
    * canonical pairs (least, greatest) of tokens at distance ≤ win,
    * PMI = ln(C(a,b)·N² / (T·C(a)·C(b))) with T the pair total. The
    * phrase-mining vs topic-association distinction: window pairs catch
    * "merge … sort" co-occurring at distance 3 that bigram PMI is blind
    * to.
    *
    * Shape mirrors [[pmiCollocations]] exactly: pair generation is an
    * in-array zip_with per offset (flatten of `win` shifted zips — never
    * a positions self-join), both count streams hash-aggregate directly
    * above their generators, count joins on the word keys, totals as a
    * one-row broadcast, ordering on the ROUNDED score, top-k =
    * TakeOrderedAndProject.
    */
  def windowedPmi(
      docs: DataFrame,
      win: Int = 3,
      k: Int = 30,
      minCount: Int = 5,
      textCol: String = "text"): DataFrame = {
    require(win >= 1, "window >= 1")
    val ts0 = tokens(col(textCol))
    val toks = docs.filter(col(textCol).isNotNull)
      .select(ts0.as("ts"), size(ts0).as("n"))
      .persist() // unigram + pair streams and the totals share one pass
    val totals = toks.agg(
      sum(col("n")).as("t_uni"),
      sum((1 to win).map(d => greatest(col("n") - d, lit(0)))
        .reduce(_ + _)).as("t_pair"))
    val uni = toks
      .select(explode(col("ts")).as("w"))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("n_w"))
    // per-doc pair CELLS from the compiled window_pair_cells kernel
    // instead of win chained zip_with slices + flatten + explode (all
    // interpreted higher-order lambdas): the kernel canonicalizes each
    // gap-1..win pair by the same binary least/greatest order and
    // pre-sums within the doc, so the aggregate sums bounded cells and
    // n_ab is the identical integer (CooccurrenceSpec pins the cell sums
    // against the expression form)
    val pairs = toks.filter(col("n") >= 2)
      .select(explode(graft.functions.WordPairs
        .window_pair_cells(col("ts"), win)).as("p"))
      .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(sum(col("p.c")).as("n_ab"))
      .filter(col("n_ab") >= minCount)
    val num = col("n_ab").cast("double") * col("t_uni") * col("t_uni")
    val den = col("t_pair").cast("double") * col("n_a") * col("n_b")
    pairs
      .join(uni.select(col("w").as("w1"), col("n_w").as("n_a")), "w1")
      .join(uni.select(col("w").as("w2"), col("n_w").as("n_b")), "w2")
      .crossJoin(broadcast(totals))
      .select(concat(col("w1"), lit(" "), col("w2")).as("pair"),
        col("n_ab"), round(log(num / den), 4).as("pmi"))
      .orderBy(col("pmi").desc, col("pair"))
      .limit(k)
  }

  /** Pairwise Jensen-Shannon divergence between group unigram
    * distributions (Lin 1991 — the symmetric, bounded [0, ln 2]
    * distribution distance; the "how different are my sources, pairwise"
    * matrix that corpus-mixture planning reads, where [[distributionDrift]]
    * tracks ONE distribution over time): distributions are taken over
    * the corpus top-`v` vocabulary (renormalized within it — a shared,
    * deterministic support) and every pair of groups gets
    * JSD = ½·KL(P‖M) + ½·KL(Q‖M), M = ½(P+Q).
    *
    * Shape: one (group, token) agg pruned to the broadcast top-v vocab,
    * densified (absent tokens count 0 — the chi-square discipline),
    * collected into one token-ordered array per group (v-bounded), and
    * the groups² pair frame evaluates both KL folds in-row in token
    * order — zero-probability terms contribute an exact 0. Everything
    * after the count agg is bounded by groups × v, never by the corpus.
    */
  def sourceDivergenceMatrix(
      docs: DataFrame,
      groupCol: String,
      v: Int = 100,
      textCol: String = "text"): DataFrame = {
    val toks = docs.filter(col(textCol).isNotNull)
      .select(col(groupCol).as("grp"), explode(tokens(col(textCol))).as("tok"))
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("tok"))
      .limit(v)
      .select(col("tok"))
    val counts = toks
      .join(broadcast(vocab), "tok")
      .groupBy(col("grp"), col("tok"))
      .agg(count(lit(1)).as("c"))
    val dense = counts.select(col("grp")).distinct()
      .crossJoin(broadcast(vocab))
      .join(counts, Seq("grp", "tok"), "left")
      .select(col("grp"), col("tok"), coalesce(col("c"), lit(0L)).as("c"))
    val arrs = dense
      .groupBy(col("grp"))
      .agg(sort_array(collect_list(struct(col("tok"), col("c")))).as("a"))
      .select(col("grp"),
        transform(col("a"), e => e.getField("c").cast("double")).as("cs"))
      .select(col("grp"), col("cs"),
        aggregate(col("cs"), lit(0.0), (x, y) => x + y).as("t"))
    val pairs = arrs.as("l")
      .join(arrs.as("r"), col("l.grp") < col("r.grp"))
    def kl(cs: Column, t: Column, os: Column, ot: Column): Column =
      aggregate(
        sequence(lit(1), size(cs)),
        lit(0.0),
        (acc, i) => {
          val p = element_at(cs, i) / t
          val q = element_at(os, i) / ot
          val m = (p + q) / lit(2.0)
          acc + when(p > 0, p * log(p / m)).otherwise(lit(0.0))
        })
    pairs.select(
      col("l.grp").as("group_a"), col("r.grp").as("group_b"),
      round(lit(0.5) * kl(col("l.cs"), col("l.t"), col("r.cs"), col("r.t"))
        + lit(0.5) * kl(col("r.cs"), col("r.t"), col("l.cs"), col("l.t")), 4)
        .as("jsd"))
  }

  /** Count-based word vectors: PPMI + truncated eigen-SVD (Levy &
    * Goldberg 2014, "Neural word embedding as implicit matrix
    * factorization" — the count-based construction word2vec implicitly
    * performs; the day-one-corpus alternative when no trained embedding
    * model exists). Pipeline: top-`v` vocabulary, symmetric ±`win`
    * window co-occurrence counts restricted to it, PPMI = max(0,
    * ln(C(a,b)·T / (C(a)·C(b)))), then a deterministic cyclic-Jacobi
    * eigendecomposition of the V×V matrix with word vectors
    * U_k·√λ_k (top-k positive eigenvalues, λ-desc order, canonical
    * sign: largest-|component| positive).
    *
    * "Fit small": the distributed side is two bounded aggregates — the
    * vocab top-k and the ≤V² co-occurrence table (both collapse
    * map-side; the window pairs generate from in-array shifted zips,
    * never a positions self-join) — and everything after is driver
    * arithmetic on a V×V matrix, exactly the whitening/PCA discipline.
    */
  final case class WordVectorModel(
      vocab: Array[String],
      vectors: Array[Array[Double]],
      tPairs: Long,
      ppmiFro: Double,
      orthonormal: Boolean,
      residualOk: Boolean,
      traceOk: Boolean)

  def wordVectorModel(
      docs: DataFrame,
      v: Int = 50,
      win: Int = 3,
      k: Int = 8,
      textCol: String = "text"): WordVectorModel = {
    require(v >= 2 && k >= 1 && k <= v && win >= 1, "sane dimensions")
    val toks = docs.filter(col(textCol).isNotNull)
      .select(tokens(col(textCol)).as("ts"), size(tokens(col(textCol))).as("n"))
    val vocab = toks
      .select(explode(col("ts")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w"))
      .limit(v)
      .collect().map(_.getString(0))
    // per-doc windowed pair counts in ONE kernel node (see
    // graft.functions.VocabPairCounter): tokens hash-map to 1-based
    // vocab positions once, the doc's v×v pair matrix accumulates in a
    // local long array, and only nonzero (w1, w2, c) cells reach the
    // aggregate — ≤v² bounded rows per doc instead of an explode of
    // 2·win·T occurrence structs through the hash agg (the r18 int-pair
    // rewrite's remaining cost; measured ~1.3 -> ~0.4 s on q187's
    // dominant job at sf0.1). The summed pair counts are the identical
    // multiset, so every downstream number (PPMI, Frobenius fold order,
    // eigen) is unchanged.
    val counter = new graft.functions.VocabPairCounter(vocab, win)
    val pairCounts = toks.filter(col("n") >= 2)
      .select(explode(graft.functions.WordPairs
        .vocab_pair_counts(col("ts"), counter)).as("p"))
      .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(sum(col("p.c")).as("c"))
      .collect()
      .map(r => ((vocab(r.getInt(0) - 1), vocab(r.getInt(1) - 1)), r.getLong(2)))
      .toMap
    val idx = vocab.zipWithIndex.toMap
    val tPairs = pairCounts.valuesIterator.sum
    val ca = new Array[Long](vocab.length)
    pairCounts.foreach { case ((a, _), c) => ca(idx(a)) += c }
    val ddim = vocab.length
    val ppmi = Array.ofDim[Double](ddim, ddim)
    pairCounts.foreach { case ((a, b), c) =>
      val i = idx(a); val j = idx(b)
      val x = math.log((c.toDouble * tPairs) / (ca(i).toDouble * ca(j)))
      ppmi(i)(j) = math.max(0.0, x)
    }
    // Frobenius: fold entries in sorted (w1, w2) order so the oracle
    // replays the identical left-associative sum
    val fro = {
      var acc = 0.0
      pairCounts.keys.toSeq.sorted.foreach { case (a, b) =>
        val p = ppmi(idx(a))(idx(b)); acc += p * p
      }
      math.sqrt(acc)
    }
    val (eig, vmat) = Similarity.jacobiEigen(ppmi)
    val order = eig.indices.sortBy(i => (-eig(i), i)).take(k).filter(eig(_) > 0)
    val vectors = Array.tabulate(ddim) { wi =>
      order.toArray.map { ei =>
        // canonical sign: the largest-|component| entry of e_i positive
        val colv = Array.tabulate(ddim)(r => vmat(r)(ei))
        val mx = colv.indices.maxBy(r => (math.abs(colv(r)), -r))
        val sgn = if (colv(mx) < 0) -1.0 else 1.0
        sgn * vmat(wi)(ei) * math.sqrt(eig(ei))
      }
    }
    // self-certifying identities
    val ortho = {
      var worst = 0.0
      for (i <- 0 until ddim; j <- i until ddim) {
        var s = 0.0
        var r = 0
        while (r < ddim) { s += vmat(r)(i) * vmat(r)(j); r += 1 }
        worst = math.max(worst, math.abs(s - (if (i == j) 1.0 else 0.0)))
      }
      worst < 1e-8
    }
    val residual = {
      var worst = 0.0
      for (ei <- 0 until ddim) {
        var r = 0
        while (r < ddim) {
          var s = 0.0
          var c2 = 0
          while (c2 < ddim) { s += ppmi(r)(c2) * vmat(c2)(ei); c2 += 1 }
          worst = math.max(worst, math.abs(s - eig(ei) * vmat(r)(ei)))
          r += 1
        }
      }
      worst < 1e-6
    }
    val trace = {
      val tr = (0 until ddim).map(i => ppmi(i)(i)).sum
      math.abs(eig.sum - tr) < 1e-6
    }
    WordVectorModel(vocab, vectors, tPairs,
      BigDecimal(fro).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
      ortho, residual, trace)
  }

  /** The q187 contract frame over [[wordVectorModel]]: exact counts +
    * the PPMI Frobenius norm (pinning the whole distributed matrix
    * build against the oracle) + the driver-side eigen identities.
    */
  def wordVectorContract(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val m = wordVectorModel(docs, textCol = textCol)
    val spark = docs.sparkSession
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("vocab_size", LongType, nullable = false),
      StructField("t_pairs", LongType, nullable = false),
      StructField("ppmi_fro", DoubleType, nullable = false),
      StructField("eigs_orthonormal", BooleanType, nullable = false),
      StructField("eigen_residual_ok", BooleanType, nullable = false),
      StructField("trace_ok", BooleanType, nullable = false)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(
        m.vocab.length.toLong, m.tPairs, m.ppmiFro,
        m.orthonormal, m.residualOk, m.traceOk)), 1),
      schema)
  }

  /** RAKE keyword extraction (Rose, Engel, Cramer & Cowley 2010 — Rapid
    * Automatic Keyword Extraction): candidate phrases are the maximal
    * stopword-free token runs; each word scores deg(w)/freq(w) where
    * deg(w) = freq(w) + Σ co-occurring words in its phrases; a phrase
    * scores the sum of its member words. The unsupervised WITHIN-doc
    * keyphrase pass — complements the corpus-statistical TF-IDF (X66)
    * and BM25 (X129): RAKE needs no corpus statistics at all, so it
    * works on day-one crawl drops with no df table.
    *
    * Determinism discipline: per-word scores are single divisions of
    * integer masses; phrase scores fold member scores in POSITION order
    * (left-associative); ranking uses the ROUNDED score with a
    * lexicographic phrase tie-break (q139's ulp rules).
    *
    * Shape: everything is per-doc — the stopword-run phrase ids come
    * from one running-sum window on (doc; pos) (doc-length-bounded
    * partitions), word stats and phrase folds are doc-keyed hash aggs,
    * and the final top-k window ranks ≤ phrases-per-doc rows. All
    * exchanges hash on doc_id; nothing is corpus-global.
    */
  def rakeTopPhrases(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      k: Int = 3,
      stopwords: Seq[String] = TextAnalysis.DefaultStopwords): DataFrame = {
    val toks = docs
      .filter(col(textCol).isNotNull && trim(col(textCol)) =!= "")
      .select(col(idCol), posexplode(tokens(col(textCol))).as(Seq("pos", "tok")))
      .withColumn("is_stop", col("tok").isInCollection(stopwords))
    val wSeq = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    // persisted: the phrase agg, the word-stat join, and the score join
    // all consume the tokenized+windowed stream — un-persisted, the
    // explode + running-sum window ran three times (measured ~0.9 s of
    // q178's warm pass at sf0.1); phrases likewise feeds the word stats
    // AND the final phrase join (intra-query lifecycle; Bench/Verify
    // clear caches)
    val inPhrase = toks
      .withColumn("phrase_id",
        sum(when(col("is_stop"), 1).otherwise(0)).over(wSeq))
      .filter(!col("is_stop"))
      .persist()
    val phrases = inPhrase
      .groupBy(col(idCol), col("phrase_id"))
      .agg(count(lit(1)).as("plen"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          e => e.getField("tok"))).as("phrase"))
      .persist()
    val wordScores = inPhrase
      .join(phrases.select(col(idCol), col("phrase_id"), col("plen")),
        Seq(idCol, "phrase_id"))
      .groupBy(col(idCol), col("tok"))
      .agg(count(lit(1)).as("freq"),
        sum(col("plen") - 1).as("cooc"))
      .select(col(idCol), col("tok"),
        ((col("freq") + col("cooc")).cast("double") / col("freq")).as("wscore"))
    val scored = inPhrase
      .join(wordScores, Seq(idCol, "tok"))
      .groupBy(col(idCol), col("phrase_id"))
      .agg(array_sort(collect_list(struct(col("pos"), col("wscore")))).as("ws"))
      .select(col(idCol), col("phrase_id"),
        round(aggregate(col("ws"), lit(0.0),
          (a, e) => a + e.getField("wscore")), 4).as("score"))
      .join(phrases.select(col(idCol), col("phrase_id"), col("phrase")),
        Seq(idCol, "phrase_id"))
    val rankW = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("phrase"))
    scored
      .withColumn("rnk", row_number().over(rankW))
      .filter(col("rnk") <= k)
      .select(col(idCol), col("rnk").cast("long").as("rnk"),
        col("phrase"), col("score"))
  }

  /** Corpus dispersion per term — Gries' DP (Gries 2008, "Dispersions and
    * adjusted frequencies in corpora", IJCL 13:4): for each of the top-`k`
    * corpus terms, DP = ½·Σ_parts |v_i − s_i|, where s_i is part i's share
    * of all corpus tokens and v_i the share of the term's own occurrences
    * falling in part i. DP ≈ 0 → the term is spread exactly like the
    * corpus (a genuinely common word); DP → 1 → concentrated in one part
    * (a bursty topic/boilerplate word masquerading as common — raw
    * frequency cannot tell the two apart, which is the point). Parts are
    * any grouping column: source, language, time-bucket.
    *
    * ABSENT parts count: |0 − s_i| = s_i, so the part spine is the
    * bounded (top-k × parts) cross of two broadcast frames and per-term
    * counts LEFT-join onto it. Float discipline: the |v−s| terms fold in
    * SORTED part order, left-associative (q150's), shares are single
    * divisions, output rounded to 4.
    *
    * Shape: one explode → (part, token) hash agg with map-side partials
    * is the only corpus-width exchange; part sizes and term totals derive
    * from it; everything downstream is bounded by k×parts rows.
    */
  def termDispersion(
      docs: DataFrame,
      groupCol: String,
      textCol: String = "text",
      topK: Int = 20): DataFrame = {
    val counts = docs
      .filter(col(textCol).isNotNull)
      .select(col(groupCol).as("part"), explode(tokens(col(textCol))).as("tok"))
      .groupBy(col("part"), col("tok"))
      .agg(count(lit(1)).as("c"))
      .persist() // feeds part sizes, term totals, AND the spine join
    val partSizes = counts
      .groupBy(col("part"))
      .agg(sum(col("c")).as("ptok"))
    val total = partSizes.agg(sum(col("ptok")).cast("double").as("ttok"))
    val shares = partSizes.crossJoin(broadcast(total))
      .select(col("part"), (col("ptok") / col("ttok")).as("s"))
    val top = counts
      .groupBy(col("tok"))
      .agg(sum(col("c")).as("total_count"))
      .orderBy(col("total_count").desc, col("tok"))
      .limit(topK)
    // prune the count table to the top tokens FIRST (broadcast semi-shape)
    // so the spine's left join is k x parts vs k x parts — broadcastable
    val topCounts = counts
      .join(broadcast(top.select(col("tok"))), Seq("tok"))
    top
      .crossJoin(broadcast(shares))
      .join(topCounts.hint("broadcast"), Seq("tok", "part"), "left")
      .select(col("tok"), col("total_count"), col("part"),
        abs(coalesce(col("c"), lit(0L)).cast("double") / col("total_count") - col("s"))
          .as("d"))
      .groupBy(col("tok"), col("total_count"))
      .agg(array_sort(collect_list(struct(col("part"), col("d")))).as("ds"))
      .select(col("tok").as("token"), col("total_count"),
        round(lit(0.5) * aggregate(col("ds"), lit(0.0),
          (a, e) => a + e.getField("d")), 4).as("dp"))
  }

  /** Lexical-diversity signals (type-token ratio family): per document,
    * TTR = types/tokens (length-biased — longer docs repeat), Guiraud's
    * root TTR = types/√tokens (Guiraud 1954's length correction), and
    * MATTR = the moving-average TTR (Covington & McFall 2010, J. Quant.
    * Linguistics: mean distinct-share over every sliding window of `w`
    * tokens — the length-INDEPENDENT diversity measure; docs shorter
    * than `w` fall back to plain TTR, the paper's convention). Low
    * MATTR + ordinary TTR separates locally-loopy template text from
    * globally repetitive-but-locally-varied prose — the complement of
    * [[gopherRepetitionSignals]]' char-mass view.
    *
    * Float discipline: TTR and MATTR are single divisions of integer
    * masses (the window sum folds BIGINT distinct-counts, one division
    * at the end); root TTR is one sqrt + one division. Round 4, exact
    * oracle replay.
    *
    * Shape: entirely IN-ROW — windows are `slice`+`array_distinct` over
    * the bound token array (O(n·w) per doc, bounded by the window
    * constant), so the operator is a map-side projection with NO
    * shuffle at any corpus size; the array binds as a multi-referenced
    * column so projection collapse cannot re-inline it per window.
    */
  def lexicalDiversity(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      w: Int = 25): DataFrame = {
    require(w >= 2, "window of at least 2 tokens")
    val n = size(col("ts"))
    val winDistinctSum = aggregate(
      sequence(lit(0), n - w),
      lit(0L),
      (acc, i) => acc + size(array_distinct(slice(col("ts"), i + 1, lit(w)))))
    val nWin = (n - w + 1).cast("long")
    // r4, not round(): Spark's round() rounds the shortest DECIMAL
    // representation half-up while DuckDB rounds the BINARY value, so a
    // ratio landing exactly on x.xxxx5 in decimal (e.g. 527/800 = 0.65875,
    // stored as 0.65874999...) rounds differently
    docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol), tokens(col(textCol)).as("ts"))
      .select(col(idCol), col("ts"),
        n.cast("long").as("n_tokens"),
        size(array_distinct(col("ts"))).cast("long").as("n_types"))
      .select(col(idCol), col("n_tokens"), col("n_types"),
        when(col("n_tokens") > 0,
          r4(col("n_types").cast("double") / col("n_tokens")))
          .otherwise(lit(0.0)).as("ttr"),
        when(col("n_tokens") > 0,
          r4(col("n_types") / sqrt(col("n_tokens").cast("double"))))
          .otherwise(lit(0.0)).as("root_ttr"),
        when(col("n_tokens") >= w,
          r4(winDistinctSum.cast("double") / (nWin * w)))
          .when(col("n_tokens") > 0,
            r4(col("n_types").cast("double") / col("n_tokens")))
          .otherwise(lit(0.0)).as("mattr"))
  }

  /** Count-Min sketch frequency estimation (Cormode & Muthukrishnan 2005,
    * J. Algorithms — the mergeable fixed-memory frequency table every
    * streaming/telemetry stack carries): `depth`×`width` counters, each
    * occurrence increments one bucket per row via an independent hash;
    * a key's estimate is the MIN over its `depth` buckets. Estimates
    * NEVER undercount (each bucket holds the true count plus whatever
    * collided into it); overestimates are bounded by e·N/width per row
    * with probability 1−e^−depth.
    *
    * Returns the top-`topK` exact tokens (the contract probe set) as
    * (token, exact_count, cms_estimate, overestimate) — the ≥-exact
    * invariant is visible row by row, and the whole frame replays
    * hash-exactly: the bucket hash is the engine-portable md5-prefix
    * draw ([[Sampling.pctBucket]]'s discipline), not xxhash64.
    *
    * Shape: the sketch IS a bounded aggregate — the depth-fan-out token
    * stream groups by (row, bucket), whose key cardinality is depth×width
    * regardless of corpus size, so map-side partials collapse everything
    * before one tiny exchange (the textbook mergeable-sketch shape: at
    * 100 TB, per-shard sketches are these same partials). The probe side
    * joins the broadcast sketch table; the exact side exists only for
    * the contract and is a TakeOrderedAndProject top-k.
    */
  def countMinFrequencies(
      docs: DataFrame,
      textCol: String = "text",
      depth: Int = 4,
      width: Int = 256,
      topK: Int = 20,
      bucketHash: Option[(Column, Column) => Column] = None): DataFrame = {
    require(depth >= 1 && width >= 2, "need a real counter table")
    // default bucket hash is md5-prefix so DuckDB replays the WHOLE
    // sketch (the gate pin); a deployment passes xxhash64 via
    // `bucketHash` — identical CM semantics under any uniform hash
    // (Bench's q163_count_min_xxh measures that production shape)
    def bucket(i: Column, tok: Column): Column = bucketHash
      .map(h => h(i, tok))
      .getOrElse(
        pmod(conv(substring(md5(
          concat(i.cast("string"), lit("|"), tok).cast("binary")), 1, 8), 16, 10)
          .cast("long"), lit(width.toLong)))
    // collapse the occurrence stream to per-token counts FIRST (one
    // vocab-bounded hash agg with map-side partials): the bucket hash —
    // md5 in the oracle-portable default — then evaluates once per
    // DISTINCT token instead of once per occurrence×depth, and the
    // sketch counters become integer sums over the collapsed counts
    // (bit-identical: CM buckets are additive over equal tokens). The
    // collapsed frame persists because the sketch, the exact top-k, and
    // the probe fan-out all consume it (intra-query lifecycle; Bench/
    // Verify clear caches).
    val tokCounts = docs
      .filter(col(textCol).isNotNull)
      .select(explode(tokens(col(textCol))).as("tok"))
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("_tc"))
      .persist()
    val sketch = tokCounts
      .select(explode(sequence(lit(0), lit(depth - 1))).as("i"),
        col("tok"), col("_tc"))
      .select(col("i"), bucket(col("i"), col("tok")).as("bucket"), col("_tc"))
      .groupBy(col("i"), col("bucket"))
      .agg(sum(col("_tc")).as("cnt"))
    val exact = tokCounts
      .select(col("tok"), col("_tc").as("exact_count"))
      .orderBy(col("exact_count").desc, col("tok"))
      .limit(topK)
    exact
      .select(col("tok"), col("exact_count"),
        explode(sequence(lit(0), lit(depth - 1))).as("i"))
      .select(col("tok"), col("exact_count"), col("i"),
        bucket(col("i"), col("tok")).as("bucket"))
      .join(broadcast(sketch), Seq("i", "bucket"))
      .groupBy(col("tok"), col("exact_count"))
      .agg(min(col("cnt")).as("cms_estimate"))
      .select(col("tok").as("token"), col("exact_count"), col("cms_estimate"),
        (col("cms_estimate") - col("exact_count")).as("overestimate"))
  }

  /** Gopher-style within-document repetition signals (Rae et al. 2021,
    * arXiv:2112.11446 Table A1 — the MassiveText repetition filters that
    * most curation stacks since have copied): per document,
    *
    *  - `top_{2,3,4}gram_frac` — fraction of the doc's token-character
    *    mass contained in occurrences of its single most frequent word
    *    n-gram (count × gram char length / total token chars; ties break
    *    to the lexicographically smallest gram). Template soup — nav
    *    bars, cookie banners, SEO stuffing — pushes these toward 1.
    *  - `dup_5gram_frac` — fraction of token-character mass at positions
    *    covered by a word 5-gram occurring MORE THAN ONCE in the same
    *    doc, overlap counted once (the paper's "duplicated n-gram
    *    character fraction", coverage semantics — the cross-doc analog
    *    is [[dupNgramFraction]]).
    *
    * Character mass excludes separators on both sides of every ratio
    * (gram chars = length(gram) − (n−1) single-space joins); fractions
    * are one integer-derived division rounded to 4 — no float folds to
    * replay, so the oracle is exact. Docs shorter than n tokens score 0.
    *
    * Shape: everything is WITHIN-doc, so every shuffle is doc_id-keyed
    * and partial aggregation collapses the gram stream map-side: one
    * tagged generator explodes n∈{2,3,4} grams (strings — the group key
    * includes doc_id, so per-key width is doc-bounded and no corpus-wide
    * hot gram exists, unlike the corpus-keyed aggs that hash first), a
    * per-(doc, n) min_by argmax over the already-reduced count rows
    * (hash agg with map-side partials — no top-1 window sort), and a
    * conditional-agg pivot back to one row per doc. The
    * 5-gram coverage pass reuses [[removeDuplicatedPassages]]'s
    * positional-gram + covered-position shape, scoped per doc. At 100 TB
    * nothing here is corpus-global — the operator scales with documents,
    * not with the cross-product of their content.
    */
  def gopherRepetitionSignals(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val base = docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol), tokens(col(textCol)).as("ts"))
      .select(col(idCol), col("ts"),
        size(col("ts")).cast("long").as("n_tokens"),
        aggregate(col("ts"), lit(0L), (a, t) => a + length(t)).as("tok_chars"))
    // tagged top-n-gram side: one generator for all three n values
    val topGrams = Seq(2, 3, 4).map { n =>
      base
        .filter(size(col("ts")) >= n)
        .select(col(idCol), lit(n).as("n"),
          explode(transform(sequence(lit(0), size(col("ts")) - n),
            i => concat_ws(" ", slice(col("ts"), i + 1, lit(n))))).as("gram"))
    }.reduce(_ unionAll _)
      .groupBy(col(idCol), col("n"), col("gram"))
      .agg(count(lit(1)).as("c"))
    // per-(doc, n) top gram as a min_by hash agg on (-count, gram) —
    // same (count desc, gram asc) winner as a row_number window, with
    // map-side partials and no per-key sort (r13, the q67 shape)
    val tops = topGrams
      .groupBy(col(idCol), col("n"))
      .agg(min_by(struct(col("c"), col("gram")),
        struct(negate(col("c")), col("gram"))).as("_top"))
      .select(col(idCol), col("n"),
        (col("_top.c") * (length(col("_top.gram")) - (col("n") - 1)))
          .as("top_chars"))
      .groupBy(col(idCol))
      .agg(
        max(when(col("n") === 2, col("top_chars"))).as("t2"),
        max(when(col("n") === 3, col("top_chars"))).as("t3"),
        max(when(col("n") === 4, col("top_chars"))).as("t4"))
    // within-doc duplicated 5-gram coverage (positions counted once)
    val g5 = base
      .filter(size(col("ts")) >= 5)
      .select(col(idCol), explode(transform(
        sequence(lit(0), size(col("ts")) - 5),
        i => struct(i.as("pos"),
          concat_ws(" ", slice(col("ts"), i + 1, lit(5))).as("gram")))).as("pg"))
      .select(col(idCol), col("pg.pos").as("pos"), col("pg.gram").as("gram"))
    val dup5 = g5
      .groupBy(col(idCol), col("gram"))
      .agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2)
      .select(col(idCol), col("gram"))
    val cov5 = g5
      .join(dup5, Seq(idCol, "gram"))
      .select(col(idCol), explode(sequence(col("pos"), col("pos") + 4)).as("tpos"))
      .groupBy(col(idCol))
      .agg(collect_set(col("tpos")).as("cov"))
    // floor(x*1e4+0.5)/1e4, not round(): these are integer-mass ratios
    // that CAN land exactly on decimal .xxxx5 boundaries, where Spark's
    // repr-based round and DuckDB's binary round disagree (the
    // lexicalDiversity lesson from the sf0.1 soak)
    val frac = (chars: Column) =>
      when(col("tok_chars") > 0,
        floor(coalesce(chars, lit(0L)).cast("double") / col("tok_chars")
          * 10000 + lit(0.5)) / 10000)
        .otherwise(lit(0.0))
    base
      .join(tops, Seq(idCol), "left")
      .join(cov5, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"), col("tok_chars"),
        frac(col("t2")).as("top_2gram_frac"),
        frac(col("t3")).as("top_3gram_frac"),
        frac(col("t4")).as("top_4gram_frac"),
        frac(aggregate(coalesce(col("cov"), array().cast("array<int>")),
          lit(0L), (a, p) => a + length(element_at(col("ts"), p + 1))))
          .as("dup_5gram_frac"))
  }

  /** Out-of-vocabulary rate per document against the corpus top-`v`
    * vocabulary — the tokenizer/vocab coverage signal (what share of a
    * doc's tokens a fixed vocabulary cannot represent; the number a
    * vocab-size decision is judged by, and a per-doc junk flag: id dumps
    * and mojibake sit near 1.0). Returns (id, n_tokens, n_oov, oov_rate).
    *
    * Shape: the top-v vocab is a bounded TakeOrderedAndProject broadcast;
    * scoring is one explode → anti-membership count per doc (map-side
    * partials over doc-keyed rows). The rate is an integer-mass ratio
    * rounded with the floor-form (decimal-boundary safe).
    */
  def oovRate(
      docs: DataFrame,
      v: Int = 1000,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val toks = docs
      .filter(col(textCol).isNotNull && trim(col(textCol)) =!= "")
      .select(col(idCol), explode(tokens(col(textCol))).as("w"))
    val vocab = toks.groupBy(col("w")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w"))
      .limit(v)
      .select(col("w"), lit(1).as("_in"))
    toks
      .join(broadcast(vocab), Seq("w"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("_in").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col(idCol), col("n_tokens"), col("n_oov"),
        (floor(col("n_oov").cast("double") / col("n_tokens") * 10000 + lit(0.5))
          / 10000).as("oov_rate"))
  }

  /** Heaps'-law fit (Heaps 1978 / Herdan: V = K·N^β — vocabulary grows
    * as a power of tokens seen; β ≈ 0.4–0.6 for natural language, near 1
    * for id-like/unbounded-vocab junk and near 0 for template soup — the
    * one-number companion to [[vocabularyGrowth]]'s curve and
    * [[zipfSlope]]'s rank view): OLS of ln V on ln N over `buckets`
    * cumulative sample points, taken in a DETERMINISTIC md5-random doc
    * order (the canonical "vocabulary under random sampling" framing —
    * and one map-side integer projection, no rank machinery). Returns
    * (n_points, beta, ln_k).
    *
    * Shape: bucket = (md5-16-bit(id)·B) div 65536 is a map-side integer;
    * per-bucket token totals and min-bucket first appearances are the
    * familiar two hash aggs (map-side partials collapse the token
    * stream); everything after folds in-row over the B-row spine —
    * prefix sums, point construction, and the zipfSlope OLS arithmetic,
    * all in bucket order. One full-width exchange (the unit agg).
    */
  def heapsFit(
      docs: DataFrame,
      buckets: Int = 10,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(buckets >= 3, "need at least 3 sample points to fit")
    val u = conv(substring(md5(col(idCol).cast("string").cast("binary")), 1, 4), 16, 10)
      .cast("long")
    val bucketed = docs
      .filter(col(textCol).isNotNull && trim(col(textCol)) =!= "")
      .select(((u * buckets) - pmod(u * buckets, lit(65536L)))
        .divide(lit(65536L)).cast("int").as("bucket"),
        col(textCol))
    val toks = bucketed.select(col("bucket"), explode(tokens(col(textCol))).as("w"))
    val perBucket = toks.groupBy(col("bucket")).agg(count(lit(1)).as("toks"))
    val news = toks
      .groupBy(col("w")).agg(min(col("bucket")).as("first_bucket"))
      .groupBy(col("first_bucket").as("bucket"))
      .agg(count(lit(1)).as("news"))
    val spine = docs.sparkSession.range(0, buckets)
      .select(col("id").cast("int").as("bucket"))
    val one = spine
      .join(perBucket, Seq("bucket"), "left")
      .join(news, Seq("bucket"), "left")
      .select(col("bucket"),
        coalesce(col("toks"), lit(0L)).as("toks"),
        coalesce(col("news"), lit(0L)).as("news"))
      .groupBy()
      .agg(sort_array(collect_list(struct(col("bucket"), col("toks"), col("news"))))
        .as("h"))
    def cum(field: String, i: Column): Column =
      aggregate(slice(col("h"), lit(1), i), lit(0L),
        (a, e) => a + e.getField(field))
    val pts = filter(
      transform(sequence(lit(1), lit(buckets)), i =>
        struct(
          when(cum("toks", i) > 0 && cum("news", i) > 0,
            log(cum("toks", i).cast("double"))).as("x"),
          when(cum("toks", i) > 0 && cum("news", i) > 0,
            log(cum("news", i).cast("double"))).as("y"))),
      p => p.getField("x").isNotNull)
    def fsum(f: Column => Column): Column =
      aggregate(pts, lit(0.0), (a, p) => a + f(p))
    val n = size(pts).cast("double")
    val sx = fsum(_.getField("x"))
    val sy = fsum(_.getField("y"))
    val sxy = fsum(p => p.getField("x") * p.getField("y"))
    val sxx = fsum(p => p.getField("x") * p.getField("x"))
    val beta = (sxy - sx * sy / n) / (sxx - sx * sx / n)
    one.select(
      size(pts).cast("long").as("n_points"),
      round(beta, 4).as("beta"),
      round(sy / n - beta * (sx / n), 4).as("ln_k"))
  }

  // ----------------------------------------------------------- winnowing

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD 2003 —
    * the MOSS algorithm): select, from every window of `w` consecutive
    * char-`k`-gram hashes, the minimal hash (rightmost on ties), and keep
    * the distinct selected (position, hash) pairs as the document's
    * fingerprint set. The guarantee that makes this the local-dedup
    * signal [[graft.functions.TextAnalysis.fingerprint]]'s whole-doc hash
    * can't give: any shared substring of length >= k + w - 1 between two
    * documents produces at least one IDENTICAL selected fingerprint in
    * both, at ~2/(w+1) selection density — detect-overlap-anywhere with a
    * bounded, content-positioned sketch per doc.
    *
    * Shape: the gram-hash array is built ONCE per row inside the
    * `posexplode` generator (Generate evaluates its child expression a
    * single time per input row — the one place a doc-length array can be
    * bound without projection collapse re-inlining it into O(n) lambda
    * invocations, the quadratic trap the first cut of this operator hit),
    * then selection is a per-doc sliding `min OVER (PARTITION BY doc
    * ORDER BY pos ROWS w-1 FOLLOWING)` + DISTINCT — linear work, one
    * shuffle on doc id (the distinct reuses the window's partitioning:
    * hash(doc_id) satisfies the (doc_id, key) clustering). The
    * rightmost-min tie break is encoded arithmetically (key = hash·2^21 +
    * (2^21-1-pos), one BIGINT min per window — no struct comparators),
    * which is also what lets DuckDB replay selection exactly (q154);
    * position capacity is 2^21-1 chars/doc, asserted in-plan. At 100 TB:
    * fingerprints are the JOIN KEY for plagiarism/overlap candidate
    * generation — a shuffle of ~0.4 longs per char instead of text, and
    * the candidate join carries bare (fp, doc) pairs, PPJoin-style.
    */
  def winnowingFingerprints(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      k: Int = 5,
      w: Int = 4): DataFrame = {
    require(k >= 2 && w >= 1, "winnowing: need k >= 2, w >= 1")
    val posCap = 1L << 21
    // the lowered text binds as a COLUMN before the generator: a lambda
    // that says lower(text) inline re-lowercases the whole doc once per
    // gram (O(n²) char copies — the residual hotspot after the window-min
    // rewrite, 10.6 s → sub-second at sf0.1); a bound attribute is O(1)
    val t = col("_t")
    val nGrams = (length(t) - k + 1).cast("long")
    val keys = transform(sequence(lit(0L), nGrams - 1), i =>
      conv(substring(md5(t.substr((i + 1).cast("int"), lit(k)).cast("binary")),
        1, 8), 16, 10).cast("long") * posCap + (lit(posCap - 1) - i))
    val winMin = min(col("_key")).over(Window.partitionBy(col(idCol))
      .orderBy(col("_pos")).rowsBetween(Window.currentRow, w - 1))
    docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol), lower(col(textCol)).as("_t"))
      .filter(length(t) >= k)
      // assert_true yields NULL when the invariant holds, so coalesce
      // rides the guard on the filter itself (q111's discipline) — a
      // doc past the position capacity fails the job, never mis-keys
      .filter(coalesce(
        assert_true(length(t) < posCap,
          lit("winnowing: doc exceeds 2^21 chars")).cast("boolean"),
        lit(true)))
      // the ONE shuffle, placed BEFORE gram generation: repartitioning the
      // doc table by id moves ~1 byte/char of text, pre-satisfies the
      // window's and the distinct's clustering (no gram-row exchange ever
      // forms — that would move ~16 bytes/char), and spreads the md5 work
      // across executors even when the scan is a single small file/task.
      // Explicit partition count: AQE would coalesce a byte-small doc
      // shuffle to ONE partition, serializing the ~1000× larger generated
      // gram stream behind it (measured 7 s vs 1 s at sf0.1)
      .repartition(
        docs.sparkSession.sessionState.conf.numShufflePartitions, col(idCol))
      // the generator binds the md5 array once per doc; trailing partial
      // windows (pos > nGrams - w) are dropped EXCEPT the pos-0 window of
      // a doc shorter than k + w - 1, which keeps its single truncated
      // window (the frame clamps at the partition end) — slice semantics
      // of the original formulation, and of the DuckDB oracle
      .select(col(idCol), (nGrams - w).as("_last"),
        posexplode(keys).as(Seq("_pos", "_key")))
      .select(col(idCol), col("_last"), col("_pos"), winMin.as("_sel"))
      .filter(col("_pos") <= greatest(col("_last"), lit(0L)))
      .select(col(idCol), col("_sel")).distinct()
      .select(col(idCol),
        (lit(posCap - 1) - pmod(col("_sel"), lit(posCap))).as("pos"),
        floor(col("_sel") / posCap).cast("long").as("fp"))
  }

  /** Winnowing overlap join — the consumer [[winnowingFingerprints]]
    * exists for (Schleimer et al. 2003 §5, the MOSS "report pairs" step):
    * document pairs sharing at least `minShared` selected fingerprints,
    * with the shared count as the overlap strength. By the winnowing
    * guarantee, ANY pair with a common substring of k + w − 1 chars or
    * more shares at least one fingerprint — so this join is the
    * detect-overlap-anywhere candidate generator for plagiarism /
    * near-copy audits, at sketch cost instead of text cost.
    *
    * Scale shape: the pair join is PPJoin-style postings intersection —
    * group by fingerprint, drop fingerprints in more than `maxDf` docs
    * (corpus boilerplate generates quadratic candidates and carries no
    * overlap signal — the stop-gram discipline of
    * [[Dedup.containmentPairs]]), self-join the surviving ≤ maxDf-row
    * postings lists, count per pair. Every exchange carries (fp, id)
    * longs; per-fingerprint pair fan-out is bounded by maxDf², never
    * |corpus|². The df cap makes recall selective, not exhaustive — raise
    * it for small audits, keep it tight at corpus scale.
    */
  def winnowingOverlapPairs(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      k: Int = 5,
      w: Int = 4,
      minShared: Int = 3,
      maxDf: Int = 20): DataFrame = {
    require(minShared >= 1 && maxDf >= 2,
      "winnowing overlap: need minShared >= 1, maxDf >= 2")
    // same fp can be selected at several positions of one doc: collapse to
    // postings first (no shuffle — fingerprints arrive doc_id-partitioned).
    // Persisted: the frame feeds the df agg AND both self-join sides — an
    // unpersisted lineage re-hashes every gram of the corpus up to 4×
    // (caller-visible lifecycle, same discipline as the dedup family)
    val postings = winnowingFingerprints(docs, textCol, idCol, k, w)
      .select(col(idCol), col("fp")).distinct().persist()
    val rare = postings.groupBy(col("fp"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= maxDf)
      .select(col("fp"))
    val pruned = postings.join(rare, "fp")
    pruned.as("a")
      .join(pruned.as("b"),
        col("a.fp") === col("b.fp") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= minShared)
  }

  /** Unseen-vocabulary estimation from the frequency-of-frequencies
    * table: Good–Turing unseen probability mass (Good 1953: the chance
    * the NEXT token is a never-seen type is f₁/N) and the Chao1
    * species-richness lower bound (Chao 1984: total vocabulary ≥
    * V + f₁²/(2f₂), with the standard f₂ = 0 fallback V + f₁(f₁−1)/2) —
    * the "how much new vocabulary will the next crawl add?" numbers
    * [[vocabularyGrowth]]'s empirical curve extrapolates by bucket and
    * these estimate in closed form from ONE sample. One row:
    * (v, n, f1, f2, gt_unseen_bp, chao1).
    *
    * Everything is integer until two display chains: the
    * (token → count) aggregate is exact, the frequency-of-frequencies
    * roll-up is exact, and v/n/f₁/f₂ are LONG sums over it — both
    * engines replay the two divisions identically. f₁² runs in doubles
    * (at corpus scale it exceeds LONG; the estimate is a double anyway).
    *
    * Scale shape: one token-keyed hash agg with map-side combine (the
    * [[vocabularyGrowth]]/Zipf exchange — the only corpus-width
    * shuffle), one count-keyed roll-up (distinct frequencies, tiny),
    * one single-row fold.
    */
  def vocabRichness(
      docs: DataFrame,
      textCol: String = "text"): DataFrame = {
    val tf = docs.filter(trim(col(textCol)) =!= "")
      .select(explode(tokens(col(textCol))).as("_w"))
      .groupBy(col("_w")).agg(count(lit(1)).as("_c"))
    val fof = tf.groupBy(col("_c")).agg(count(lit(1)).as("_f"))
    val agg = fof.agg(
      coalesce(sum(col("_f")), lit(0L)).as("v"),
      coalesce(sum(col("_c") * col("_f")), lit(0L)).as("n"),
      coalesce(sum(when(col("_c") === 1, col("_f"))), lit(0L)).as("f1"),
      coalesce(sum(when(col("_c") === 2, col("_f"))), lit(0L)).as("f2"))
    val nS = when(col("n") > 0, col("n").cast("double")).otherwise(lit(1.0))
    val f1d = col("f1").cast("double")
    val f2d = col("f2").cast("double")
    agg.select(col("v"), col("n"), col("f1"), col("f2"),
      when(col("n") > 0,
        floor(f1d / nS * 10000 + lit(0.5)).cast("long"))
        .otherwise(lit(null).cast("long")).as("gt_unseen_bp"),
      when(col("f2") > 0,
        r4(col("v").cast("double") + f1d * f1d / (lit(2.0) * f2d)))
        .otherwise(r4(col("v").cast("double") +
          f1d * (f1d - 1) / 2)).as("chao1"))
  }

  /** Corpus-level distinct-n diversity (Li et al. 2016, "A Diversity-
    * Promoting Objective" — distinct-n = unique n-grams / total n-grams,
    * THE standard corpus diversity read beside the per-doc repetition
    * gates ([[repetitionRatio]] flags one repetitive document; a corpus
    * of mutually-near-identical documents passes every per-doc gate and
    * only distinct-n sees it). One row per n in `ns`:
    * (n, total_ngrams, distinct_ngrams, distinct_bp).
    *
    * Exactness: counts are integers and the ratio is ONE division.
    * Empty-after-trim documents are excluded on both engines (the
    * tokenizer would otherwise mint a phantom empty token).
    *
    * Scale shape: ONE corpus scan — n-grams generate map-side from
    * in-array slices (no positions self-join), and the (n, gram)
    * aggregate carries partial counts. The exact distinct count is the
    * honest gate-scale metric; at 100 TB the drop-in scale twin is
    * `approx_count_distinct` on the same exploded frame (same plan
    * shape, sketch exchange), which the gate deliberately does not pin.
    */
  def distinctNgrams(
      docs: DataFrame,
      textCol: String = "text",
      ns: Seq[Int] = Seq(1, 2, 3)): DataFrame = {
    require(ns.nonEmpty && ns.forall(_ >= 1), "n-gram orders must be >= 1")
    val toksC = split(lower(trim(col(textCol))), "\\s+")
    // grams are keyed by xxhash64 of the token SLICE, not the joined
    // string: the aggregate only needs gram IDENTITY, so skipping the
    // concat_ws build and shuffling an 8-byte key instead of the gram
    // text cuts both the generator and the exchange (guide §2.3 narrower
    // types). Distinct-count semantics are unchanged up to a 64-bit
    // cross-gram collision (~|V|²/2⁶⁴, zero in practice — the q22
    // hashed-shingle verify / q236 gram-key argument; the oracle pins the
    // counts at three SFs).
    val pairs = flatten(array(ns.map { n =>
      when(size(col("_t")) >= n,
        transform(sequence(lit(1), size(col("_t")) - n + 1), i =>
          struct(lit(n).as("n"),
            xxhash64(slice(col("_t"), i, lit(n))).as("g"))))
        .otherwise(array().cast("array<struct<n:int,g:bigint>>"))
    }: _*))
    docs
      .filter(col(textCol).isNotNull && trim(col(textCol)) =!= "")
      .select(toksC.as("_t"))
      .select(explode(pairs).as("p"))
      // two-level aggregate instead of count + countDistinct in one agg:
      // the single-agg form plans an Expand that doubles the gram stream
      // before the shuffle; grouping by (n, gram) first dedups map-side
      // and ships each distinct gram once — same exact integers
      .groupBy(col("p.n").cast("long").as("n"), col("p.g").as("_g"))
      .agg(count(lit(1)).as("_c"))
      .groupBy(col("n"))
      .agg(sum(col("_c")).as("total_ngrams"),
        count(lit(1)).as("distinct_ngrams"))
      .select(col("n"), col("total_ngrams"), col("distinct_ngrams"),
        floor(col("distinct_ngrams").cast("double") /
          col("total_ngrams").cast("double") * 10000 + lit(0.5))
          .cast("long").as("distinct_bp"))
  }

  /** Corpus composition concentration card — the curation audit run
    * before any source-mixing decision: how concentrated is the corpus
    * across sources/domains? One row: (n, k_groups, top_share_bp,
    * hhi_bp, simpson_bp, shannon_bp, hill1_bp) —
    * HHI = Σ(n_g/N)² (Herfindahl & Hirschman, the antitrust
    * concentration index), the unbiased Simpson/Hunter–Gaston
    * λ = Σn_g(n_g−1)/(N(N−1)), Shannon H in nats, and Hill's effective
    * source count ¹D = e^H (Hill 1973 — "this 20-source corpus mixes
    * like X equally-sized sources", the number mixing boards actually
    * read; Σ shares·10⁴ quantities go out as BIGINT basis points,
    * hill1_bp is ¹D·10⁴).
    *
    * Float discipline: HHI and Simpson clear to exact DECIMAL(38,0)
    * ratios (Σn_g² / N², Σn_g(n_g−1) / N(N−1)) — one division each;
    * Shannon folds (n_g/N)·ln(n_g/N) in SORTED group order (the
    * uncertaintyCoefficient discipline) and e^H is one exp.
    *
    * Scale shape: ONE groups-bounded hash agg with map-side partials is
    * the only exchange; the card is a one-row fold.
    */
  def compositionDiversity(
      docs: DataFrame,
      groupCol: String = "source"): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val perG = docs.filter(col(groupCol).isNotNull)
      .groupBy(col(groupCol)).agg(count(lit(1)).as("_n"))
    val one = perG.groupBy().agg(
      sort_array(collect_list(struct(col(groupCol).as("_g"), col("_n"))))
        .as("gs"),
      coalesce(sum(col("_n")), lit(0L)).as("n"),
      count(lit(1)).as("k_groups"),
      coalesce(sum(col("_n").cast(dec) * col("_n").cast(dec)),
        lit(0).cast(dec)).as("_sq"),
      coalesce(sum(col("_n").cast(dec) * (col("_n").cast(dec) - 1)),
        lit(0).cast(dec)).as("_pp"),
      coalesce(max(col("_n")), lit(0L)).as("_top"))
    val nD = col("n").cast(dec)
    val nd = col("n").cast("double")
    val hhi = col("_sq").cast("double") / (nD * nD).cast("double")
    val simpson = col("_pp").cast("double") / (nD * (nD - 1)).cast("double")
    val shannon = -aggregate(col("gs"), lit(0.0), (a, e) => {
      val sh = e.getField("_n").cast("double") / nd
      a + sh * log(sh)
    })
    def bp(c: Column) = floor(c * 10000 + lit(0.5)).cast("long")
    def guard(cond: Column, c: Column) =
      when(cond, bp(c)).otherwise(lit(null).cast("long"))
    one.select(col("n"), col("k_groups"),
      guard(col("n") > 0, col("_top").cast("double") / nd).as("top_share_bp"),
      guard(col("n") > 0, hhi).as("hhi_bp"),
      guard(col("n") > 1, simpson).as("simpson_bp"),
      guard(col("n") > 0, shannon).as("shannon_bp"),
      guard(col("n") > 0, exp(shannon)).as("hill1_bp"))
  }
}
