package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline:
  * tokenization, quality scoring, stopword-profile language ID and document
  * fingerprinting. All pure per-row column expressions — fully codegen'd,
  * no shuffles, trivially scalable.
  */
object TextAnalysis {

  /** Whitespace tokenization (the baseline tokenizer; a BPE-ish regex
    * tokenizer is [[tokensBpeIsh]]). */
  def tokens(text: Column): Column = split(text, "\\s+")

  /** BPE-ish pre-tokenization: words, numbers, and single punctuation marks
    * as separate tokens (GPT-2-style pre-split, ASCII approximation). */
  def tokensBpeIsh(text: Column): Column =
    filter(split(regexp_replace(text, "([a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s])", " $1 "), "\\s+"),
      t => t =!= "")

  /** Gopher-style document quality rules (Rae et al. 2021 §A1.1), the
    * word-level subset that is row-local at any scale: word-count bounds,
    * mean-word-length bounds, symbol-to-word ratio ('#' and '...'), and
    * the alphabetic-word fraction. Each rule emits its metric AND a
    * pass flag, plus the overall conjunction — a pipeline keeps
    * `pass_gopher` rows and can audit exactly which rule dropped the
    * rest. Pure per-row column algebra (one projection, streaming-safe,
    * zero shuffle), complementing the heuristic [[withQuality]] score.
    * (The repetition-based Gopher rules live in the dedicated
    * repetition/boilerplate operators.) */
  def gopherRules(docs: DataFrame, textCol: String = "text",
                  minWords: Int = 50, maxWords: Int = 100000,
                  minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
                  maxSymbolRatio: Double = 0.1,
                  minAlphaFrac: Double = 0.8): DataFrame = {
    val toks = filter(tokens(trim(col(textCol))), t => t =!= "")
    val nWords = size(toks)
    val nWordsD = when(nWords =!= 0, nWords).cast("double")
    val meanLen = aggregate(toks, lit(0L), (acc, t) => acc + length(t))
      .cast("double") / nWordsD
    val hashes = length(col(textCol)) -
      length(regexp_replace(col(textCol), "#", ""))
    val ellipses = (length(col(textCol)) -
      length(regexp_replace(col(textCol), "\\.\\.\\.", ""))) / 3
    val symbolRatio = (hashes + ellipses).cast("double") / nWordsD
    val alphaWords = size(filter(toks, t => t.rlike("[A-Za-z]")))
    val alphaFrac = alphaWords.cast("double") / nWordsD
    docs
      .withColumn("n_words", nWords.cast("long"))
      .withColumn("mean_word_len", round(meanLen, 6))
      .withColumn("symbol_ratio", round(symbolRatio, 6))
      .withColumn("alpha_frac", round(alphaFrac, 6))
      .withColumn("pass_word_count",
        (nWords >= minWords && nWords <= maxWords).cast("int"))
      // a 0-word doc can't pass a ratio rule — coalesce the null ratios'
      // flags to 0 (the metrics themselves stay null, honestly undefined)
      .withColumn("pass_mean_word_len", coalesce(
        (meanLen >= minMeanWordLen && meanLen <= maxMeanWordLen).cast("int"),
        lit(0)))
      .withColumn("pass_symbol_ratio",
        coalesce((symbolRatio <= maxSymbolRatio).cast("int"), lit(0)))
      .withColumn("pass_alpha_frac",
        coalesce((alphaFrac >= minAlphaFrac).cast("int"), lit(0)))
      .withColumn("pass_gopher",
        (col("pass_word_count") === 1 && col("pass_mean_word_len") === 1 &&
          col("pass_symbol_ratio") === 1 && col("pass_alpha_frac") === 1)
          .cast("int"))
  }

  /** Line-grain quality rules — the RefinedWeb "line-wise corrections"
    * pass (Penedo et al. 2023 §3.1.3) that doc-grain [[gopherRules]]
    * cannot express: real web text fails line by line (nav bullets,
    * truncated teasers ending in "…", SHOUTING headers, bare counters,
    * too-short fragments), so each line is flagged independently and the
    * DOCUMENT verdict is char-weighted — drop the doc when flagged lines
    * carry more than `maxFlaggedFrac` of its characters, otherwise keep
    * it with the flagged lines removed (the published remove-or-drop
    * policy).
    *
    * Per-line rules (each also reported as a per-doc count so a data
    * card can audit which rule fires): bullet start (`-`/`*`/`•` after
    * trim), ellipsis/… end, short line (< `minLineWords` words),
    * mostly-uppercase line (upper/alpha > `maxUpperFrac`, alpha > 0),
    * numeric-only line (digits/punctuation/space with ≥1 digit).
    *
    * Output per doc: (idCol, n_lines, n_bullet, n_ellipsis, n_short,
    * n_upper, n_numeric, n_flagged, flagged_char_frac, keep_doc,
    * kept_text) — kept_text rejoins unflagged lines in original order.
    *
    * Edge semantics (CurationOpsSpec battery): an empty doc is one
    * empty line — flagged short, but 0 of 0 chars → flagged_char_frac
    * 0.0, keep_doc 1, kept_text '' (the empty line is removed); an
    * all-flagged doc keeps nothing and keep_doc reflects the char
    * fraction only.
    *
    * Scale: explode is map-side; flags are per-line column algebra
    * (codegen'd regex/length primitives, no UDF); the doc rollup is ONE
    * hash aggregation on the doc id whose state is bounded by the doc's
    * own line count (the [[Dedup.spanDedup]] rebuild pattern) — one
    * exchange, corpus-linear. */
  def lineQualityRules(docs: DataFrame, minLineWords: Int = 3,
                       maxUpperFrac: Double = 0.6,
                       maxFlaggedFrac: Double = 0.5,
                       idCol: String = "doc_id", textCol: String = "text",
                       sepRegex: String = "\\n",
                       joinSep: String = "\n"): DataFrame = {
    val lines = docs.select(col(idCol),
      posexplode(split(col(textCol), sepRegex)).as(Seq("_pos", "_line")))
    val t = trim(col("_line"))
    val words = size(filter(split(t, "\\s+"), x => x =!= ""))
    val alpha = length(regexp_replace(col("_line"), "[^A-Za-z]", ""))
    val upper = length(regexp_replace(col("_line"), "[^A-Z]", ""))
    val fBullet = t.rlike("^[-*•]")
    val fEllipsis = t.rlike("(\\.\\.\\.|…)$")
    val fShort = words < minLineWords
    val fUpper = alpha > 0 &&
      upper.cast("double") / alpha.cast("double") > maxUpperFrac
    val fNumeric = t.rlike("^[0-9\\s.,;:%()\\-]+$") && t.rlike("[0-9]")
    val flagged = fBullet || fEllipsis || fShort || fUpper || fNumeric
    lines
      .select(col(idCol), col("_pos"), col("_line"),
        length(col("_line")).cast("long").as("_chars"),
        fBullet.cast("int").as("_fb"), fEllipsis.cast("int").as("_fe"),
        fShort.cast("int").as("_fs"), fUpper.cast("int").as("_fu"),
        fNumeric.cast("int").as("_fn"), flagged.cast("int").as("_flag"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(col("_fb")).as("n_bullet"),
        sum(col("_fe")).as("n_ellipsis"),
        sum(col("_fs")).as("n_short"),
        sum(col("_fu")).as("n_upper"),
        sum(col("_fn")).as("n_numeric"),
        sum(col("_flag")).as("n_flagged"),
        // char-weighted verdict: 0-char docs define the frac as 0.0
        round(coalesce(
          sum(when(col("_flag") === 1, col("_chars"))).cast("double") /
            when(sum(col("_chars")) =!= 0, sum(col("_chars"))).cast("double"),
          lit(0.0)), 6).as("flagged_char_frac"),
        array_join(transform(
          array_sort(collect_list(when(col("_flag") === 0,
            struct(col("_pos"), col("_line"))))),
          x => x.getField("_line")), joinSep).as("kept_text"))
      .withColumn("keep_doc",
        (col("flagged_char_frac") <= maxFlaggedFrac).cast("int"))
      .select(col(idCol), col("n_lines"), col("n_bullet"), col("n_ellipsis"),
        col("n_short"), col("n_upper"), col("n_numeric"), col("n_flagged"),
        col("flagged_char_frac"), col("keep_doc"), col("kept_text"))
  }

  private val StopwordsEn = Seq("the", "a", "an", "and", "of", "to", "in", "is", "it", "that")
  private val StopwordsFr = Seq("le", "la", "les", "et", "de", "un", "une", "est", "que", "pour")
  private val StopwordsDe = Seq("der", "die", "das", "und", "ist", "ein", "eine", "zu", "mit", "von")
  private val StopwordsEs = Seq("el", "la", "los", "y", "de", "un", "una", "es", "que", "por")

  private def stopCount(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => array_contains(lit(words.toArray), t)))

  /** Token count, char count, punctuation ratio, stopword ratio and a
    * [0,1] composite quality score (length/punct/stopword heuristics of the
    * usual web-scale quality filters). */
  def withQuality(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val toks = tokens(lower(col(textCol)))
    val nTok = size(toks)
    val nChars = length(col(textCol))
    val punct = nChars - length(regexp_replace(col(textCol), "[.,!?;:]", ""))
    val stops = stopCount(toks, StopwordsEn)
    docs
      .withColumn("n_chars", nChars)
      .withColumn("n_tokens", nTok)
      .withColumn("punct_ratio",
        punct.cast("double") / when(nChars =!= 0, nChars).cast("double"))
      .withColumn("stop_ratio",
        stops.cast("double") / when(nTok =!= 0, nTok).cast("double"))
      .withColumn("mean_token_len",
        (nChars - (nTok - lit(1))).cast("double") / when(nTok =!= 0, nTok).cast("double"))
      .withColumn("quality_score",
        least(lit(1.0), nTok.cast("double") / 20.0) * (lit(1.0) - col("punct_ratio")) *
          least(lit(1.0), col("stop_ratio") * 4.0))
  }

  /** Stopword-profile language ID over en/fr/de/es with a deterministic
    * preference order on ties (en > fr > de > es). */
  def withLangId(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val toks = tokens(lower(col(textCol)))
    val cEn = stopCount(toks, StopwordsEn)
    val cFr = stopCount(toks, StopwordsFr)
    val cDe = stopCount(toks, StopwordsDe)
    val cEs = stopCount(toks, StopwordsEs)
    docs
      .withColumn("sw_en", cEn).withColumn("sw_fr", cFr)
      .withColumn("sw_de", cDe).withColumn("sw_es", cEs)
      .withColumn("lang_pred",
        when(col("sw_en") >= greatest(col("sw_fr"), col("sw_de"), col("sw_es")), "en")
          .when(col("sw_fr") >= greatest(col("sw_de"), col("sw_es")), "fr")
          .when(col("sw_de") >= col("sw_es"), "de")
          .otherwise("es"))
  }

  /** Canonical-form fingerprint: md5 of case-folded, whitespace-collapsed
    * text — the exact-dedup key. Shingle-level rolling hashes live in
    * [[MinHashLsh]]. */
  def fingerprint(text: Column): Column =
    md5(trim(regexp_replace(lower(text), "\\s+", " ")))

  /** URL canonicalization — the key function under URL-grain dedup (the
    * Dolma/CCNet-style pass that collapses crawl records of the same page
    * fetched under cosmetically different addresses). Deterministic rule
    * set, each step standard canonicalization practice:
    *
    *  1. trim surrounding whitespace;
    *  2. strip the fragment (`#…` — client-side only, never reaches the
    *     server);
    *  3. lowercase the scheme and authority (`scheme://host:port` — both
    *     case-insensitive per RFC 3986; path/query case is PRESERVED,
    *     they are case-sensitive);
    *  4. drop explicit default ports (`http://…:80`, `https://…:443`);
    *  5. strip trailing slashes from the path (`/a/` ≡ `/a`, `/` ≡ empty);
    *  6. drop tracking query parameters (`utm_*`, `gclid`, `fbclid`,
    *     `ref`, `mc_cid`, `mc_eid`) and SORT the survivors, so parameter
    *     order doesn't split a group (`?b=2&a=1` ≡ `?a=1&b=2`); an
    *     all-tracking query drops its `?` entirely.
    *
    * Pure per-row column algebra (regex + array HOFs over a short
    * string), map-only and streaming-safe at any scale; every rule is
    * reproducible in ANSI-ish SQL so the dedup it keys is
    * oracle-checkable. */
  def canonicalizeUrl(url: Column): Column = {
    val u1 = regexp_replace(trim(url), "#.*$", "")
    val base = regexp_replace(u1, "\\?.*$", "")
    val query = regexp_extract(u1, "\\?(.*)$", 1)
    val hostPort = lower(regexp_extract(base,
      "^([a-zA-Z][a-zA-Z0-9+.\\-]*://[^/]*)", 1))
    val path = regexp_replace(base, "^[a-zA-Z][a-zA-Z0-9+.\\-]*://[^/]*", "")
    val hostPort2 = regexp_replace(
      regexp_replace(hostPort, "^(http://[^/:]+):80$", "$1"),
      "^(https://[^/:]+):443$", "$1")
    val path2 = regexp_replace(path, "/+$", "")
    val kept = array_sort(filter(split(query, "&"),
      p => p =!= "" &&
        !p.rlike("^(utm_[a-zA-Z0-9_]*|gclid|fbclid|ref|mc_cid|mc_eid)=")))
    val q2 = array_join(kept, "&")
    concat(hostPort2, path2, when(q2 =!= "", concat(lit("?"), q2)).otherwise(lit("")))
  }

  /** Per-doc character-distribution stats: code-point count, distinct
    * code-point count, Shannon entropy in bits/char (struct column; see
    * [[graft.functions.CharEntropy]]). One native JVM pass per row —
    * map-only at any scale. */
  def charEntropy(text: Column): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(
      graft.functions.CharEntropy(GraftBridge.expression(text)))
  }

  /** [[charEntropy]] applied to a document frame, with the two-sided
    * plausibility gate quality pipelines run on it: near-zero entropy is
    * repeated-char padding / keyboard mash, implausibly high entropy is
    * base64/binary spill. Bounds follow the usual web-filter defaults
    * (natural-language text sits ~3.5–5 bits/char; the gate is
    * deliberately loose). Empty docs have undefined entropy → fail.
    *
    * The `_ce` struct is referenced ~6 times below, but the O(len)
    * CharEntropy pass still runs ONCE per row: CollapseProject only
    * inlines a multiply-referenced alias when the producing expression is
    * cheap (attribute/literal-grade), and a custom expression is not — so
    * the optimized plan keeps a dedicated Project computing `_ce` with
    * the consumers reading struct fields above it (verified in the dumped
    * plan; PlanAuditSpec pins exactly one char_entropy call site so a
    * future optimizer change can't silently multiply the pass). */
  def withEntropy(docs: DataFrame, textCol: String = "text",
                  minBits: Double = 1.5, maxBits: Double = 6.0): DataFrame =
    docs
      .withColumn("_ce", charEntropy(col(textCol)))
      .withColumn("n_cp", col("_ce.n_chars"))
      .withColumn("n_distinct_cp", col("_ce.n_distinct_chars"))
      .withColumn("entropy_bits", round(col("_ce.entropy_bits"), 6))
      .withColumn("pass_entropy", coalesce(
        (col("_ce.entropy_bits") >= minBits &&
          col("_ce.entropy_bits") <= maxBits).cast("int"), lit(0)))
      .drop("_ce")

  /** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken 2003,
    * the MOSS local fingerprinting algorithm): hash every word `k`-gram,
    * slide a window of `w` consecutive gram hashes, and in each window
    * select the MINIMUM hash (rightmost position on ties, per the paper);
    * the distinct selected (position, hash) pairs are the document's
    * fingerprints. Guarantees every shared run of `w + k − 1` tokens
    * between two documents shares at least one fingerprint, at ~2/(w+1)
    * the density of the full gram set — the sketch that makes
    * fingerprint-join dedup/plagiarism detection tractable when the full
    * gram table would dominate the corpus.
    *
    * Determinism across engines/partitionings: the gram hash is the first
    * 8 md5 hex digits (not xxhash64), and window selection happens on the
    * encoded key `hash·2^21 − pos` whose integer order realizes
    * (min hash, rightmost pos) with plain int64 comparisons — the same
    * arithmetic an ANSI oracle can run. Docs shorter than `k` tokens have
    * no grams and are absent; docs with fewer than `w` grams winnow their
    * single short window.
    *
    * Scale: ONE native JVM pass per row ([[graft.functions.WinnowFingerprints]]
    * — O(tokens·w)), map-only, streaming-safe, no explode until the
    * winnowed set (~2/(w+1)·grams); the output is the join key for a
    * corpus-grain fingerprint index. Position cap: the encoding reserves
    * 21 bits for pos, so docs are capped at 2^21−1 grams — the expression
    * throws beyond it (a 2M-token doc is not a document; chunk first). */
  def winnowFingerprints(docs: DataFrame, k: Int = 3, w: Int = 4,
                         idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    val fps = GraftBridge.column(graft.functions.WinnowFingerprints(
      GraftBridge.expression(col(textCol)), k, w))
    docs
      .select(col(idCol), explode(fps).as("_fp"))
      .select(col(idCol), col("_fp.pos").as("pos"),
        col("_fp.gram_hash").as("gram_hash"), col("_fp.gram").as("gram"))
  }

  /** C4-style text normalization — the cleanup projection that runs before
    * any fingerprinting/tokenizing stage on raw web extractions: strip
    * markup tags, unescape the basic HTML entities, blank control
    * characters, collapse whitespace runs, trim. Order matters (tags
    * before entities, control-strip before whitespace-collapse) and is
    * pinned by the oracle. Pure per-row regex algebra — codegen'd,
    * zero shuffle, streaming-safe. */
  def normalize(text: Column): Column = {
    val noTags = regexp_replace(text, "<[^>]*>", " ")
    // &amp; unescapes LAST: doing it first would let author-escaped
    // entities double-unescape ("&amp;lt;" means the literal text "&lt;",
    // not "<" — &amp;->& would hand the &lt; pass a fresh entity)
    val unesc = regexp_replace(regexp_replace(regexp_replace(noTags,
      "&lt;", "<"), "&gt;", ">"), "&amp;", "&")
    val noCtrl = regexp_replace(unesc, "[\\x00-\\x1f]", " ")
    trim(regexp_replace(noCtrl, "\\s+", " "))
  }

  /** [[normalize]] applied to a document frame, with the before/after char
    * counts a cleaning audit reports. */
  def withNormalized(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      .withColumn("norm_text", normalize(col(textCol)))
      .withColumn("n_chars_raw", length(col(textCol)).cast("long"))
      .withColumn("n_chars_norm", length(col("norm_text")).cast("long"))

  /** Tokenizer-vocabulary coverage audit — the check that runs after a
    * vocabulary is fit and before training commits to it: build the
    * top-`vocabSize` corpus tokens (the unigram-truncation vocabulary a
    * WordPiece/BPE fit starts from), then report every document's
    * out-of-vocabulary token count and rate. High-OOV documents are
    * either junk (drop) or evidence the vocabulary under-covers a domain
    * (refit); empty documents have no tokens and are absent.
    *
    * Scale: token explode is map-side; the frequency aggregation is one
    * O(tokens) hash agg; top-V is TakeOrdered (per-partition top-V, V
    * rows merged — never a global sort); and the vocabulary joins back
    * BROADCAST, so the per-doc pass is map-side. Ties at the vocabulary
    * boundary break lexicographically, keeping the vocab deterministic
    * across engines and partitionings. */
  def vocabCoverage(docs: DataFrame, vocabSize: Int = 10000,
                    idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    val toks = docs.select(col(idCol),
      explode(filter(tokens(lower(trim(col(textCol)))), t => t =!= ""))
        .as("_t"))
    val vocab = toks.groupBy(col("_t")).agg(count(lit(1)).as("_freq"))
      .orderBy(col("_freq").desc, col("_t").asc)
      .limit(vocabSize)
      .select(col("_t"), lit(1).as("_in_vocab"))
    toks.join(broadcast(vocab), Seq("_t"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("_in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_frac", round(col("n_oov") / col("n_tokens"), 6))
  }

  /** All word n-grams of the case-folded text (non-distinct — frequency
    * counting wants multiplicity; [[Dedup.shingles]] is the distinct set).
    * Single-pass native expression ([[graft.functions.WordNgrams]]). */
  def ngrams(text: Column, n: Int): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(
      graft.functions.WordNgrams(GraftBridge.expression(text), n))
  }

  /** Corpus-wide n-gram frequency table: explode per-doc n-grams, one
    * hash-shuffle count. Map-side partial aggregation makes this the
    * scalable vocabulary/frequency pass (the input to BPE training and
    * n-gram LM stats) — no driver-side state at any corpus size. */
  def ngramFreq(docs: DataFrame, n: Int, textCol: String = "text"): DataFrame =
    docs.select(explode(ngrams(col(textCol), n)).as("ngram"))
      .groupBy("ngram")
      .agg(count(lit(1)).as("cnt"))

  /** Count-Min-sketch n-gram frequency profile — the sketch path under
    * [[ngramFreq]]: ONE pass builds a CMS over 8-byte gram hashes (KBs at
    * any corpus size, distributed tree-aggregate, mergeable — the
    * cross-shard/cross-day frequency-union shape), and the top-k exact
    * grams are then re-estimated from the sketch via the native
    * [[graft.functions.CmsEstimate]] probe, giving the estimate-vs-exact
    * audit a sketch rollout publishes. est ≥ exact always; overshoot
    * ≤ eps·N at the sketch's confidence.
    *
    * At lake scale the exact side here is only the audit's top-k; a
    * sketch-only consumer skips it and pays one O(tokens) pass + KBs of
    * state, vs the exact aggregation's full (gram, count) relation. */
  def ngramCmsProfile(docs: DataFrame, n: Int = 2, k: Int = 20,
                      eps: Double = 0.001, confidence: Double = 0.99,
                      seed: Int = 42, textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    val grams = docs.select(explode(ngrams(col(textCol), n)).as("ngram"))
      .withColumn("_gh", xxhash64(col("ngram")))
    val cms = grams.stat.countMinSketch(col("_gh"), eps, confidence, seed)
    val top = grams.groupBy(col("ngram"), col("_gh"))
      .agg(count(lit(1)).as("exact_count"))
      .orderBy(col("exact_count").desc, col("ngram").asc)
      .limit(k)
    top
      .withColumn("est_count", GraftBridge.column(
        graft.functions.CmsEstimate(GraftBridge.expression(col("_gh")), cms)))
      .withColumn("overshoot", col("est_count") - col("exact_count"))
      .drop("_gh")
  }

  /** Corpus heavy hitters — EXACT frequent tokens via a Count-Min-sketch
    * nominate → exact confirm, the same nominate-verify exactness pattern
    * as the Bloom-verified decontamination: answers "which tokens appear
    * at least `minCount` times corpus-wide, with exact counts" without
    * ever shuffling the full distinct-token vocabulary (billions of rows
    * at web scale — the thing a naive groupBy ships).
    *
    * Pass 1 folds the token stream into ONE mergeable CMS (map-side
    * partial sketches, a d×w-counter driver artifact — Cormode &
    * Muthukrishnan 2005). Pass 2 probes the sketch map-side
    * ([[graft.functions.CmsEstimate]], codegen'd): CMS never
    * underestimates, so `est >= minCount` keeps every true heavy hitter —
    * the exact count-and-filter then runs on the SUSPECT stream only, and
    * its exchange carries the (bounded) false positives instead of the
    * vocabulary. Output is exactly the tokens with true freq >= minCount,
    * each with its exact count and corpus share — hash-identical to the
    * naive plan (TextAnalysisSpec pins ≡), while the heavy exchange
    * shrinks from |vocab| to |suspects| (eps controls the overshoot:
    * width 2/eps counters bound the expected overestimate by eps·N).
    *
    * EXACTLY two token-stream scans (pass 1 builds the sketch, pass 2
    * confirms) — the corpus-wide token total for the share denominator
    * rides the sketch itself (`CountMinSketch.totalCount` counts every
    * update, so it IS the pass-1 token count; no third scan, the
    * round-14 advisory). Scans are cheap map work reading one column;
    * the vocabulary-grain exchange is the 100 TB bottleneck this
    * removes. */
  def heavyHitters(docs: DataFrame, minCount: Long, eps: Double = 1e-4,
                   confidence: Double = 0.99, seed: Int = 42,
                   textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    require(minCount >= 1, "minCount must be >= 1")
    val toks = docs.select(
        explode(filter(tokens(lower(col(textCol))), t => t =!= ""))
          .as("token"))
      .withColumn("_th", xxhash64(col("token")))
    val cms = toks.stat.countMinSketch(col("_th"), eps, confidence, seed)
    val est = GraftBridge.column(
      graft.functions.CmsEstimate(GraftBridge.expression(col("_th")), cms))
    val nTotal = cms.totalCount()
    toks
      .where(est >= minCount)
      .groupBy(col("token"))
      .agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= minCount)
      .select(col("token"), col("cnt"),
        round(col("cnt").cast("double") / lit(nTotal), 6).as("share"))
  }

  /** Tokenizer fertility audit — the multilingual tokenizer-parity data
    * card (the fertility tables of mT5 / XLM-R / BLOOM: subword-per-word
    * and bytes-per-subword by language tell you which languages a
    * tokenizer taxes, which drives mixture and vocab decisions). Per
    * (lang, source): document/word/subword/char/byte volumes under the
    * whitespace word tokenizer and the BPE-ish pre-tokenizer, plus
    * fertility = subwords/word, chars and bytes per subword, and mean
    * subwords per doc.
    *
    * Scale: per-row token counting is pure codegen'd column algebra; the
    * rollup is ONE hash aggregation on a low-cardinality key — map-side
    * partials collapse to |lang×source| rows, nothing else moves. */
  def tokenizerFertility(docs: DataFrame, langCol: String = "lang",
                         sourceCol: String = "source",
                         textCol: String = "text"): DataFrame = {
    val words = size(filter(tokens(col(textCol)), t => t =!= ""))
    val subwords = size(tokensBpeIsh(col(textCol)))
    docs
      .select(col(langCol), col(sourceCol),
        words.cast("long").as("_w"), subwords.cast("long").as("_s"),
        length(col(textCol)).cast("long").as("_c"),
        octet_length(col(textCol)).cast("long").as("_b"))
      .groupBy(col(langCol), col(sourceCol))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("_w")).as("n_words"),
        sum(col("_s")).as("n_subwords"),
        sum(col("_c")).as("n_chars"),
        sum(col("_b")).as("n_bytes"),
        round(sum(col("_s")).cast("double") / sum(col("_w")), 6)
          .as("fertility"),
        round(sum(col("_c")).cast("double") / sum(col("_s")), 6)
          .as("chars_per_subword"),
        round(sum(col("_b")).cast("double") / sum(col("_s")), 6)
          .as("bytes_per_subword"),
        round(sum(col("_s")).cast("double") / count(lit(1)), 6)
          .as("subwords_per_doc"))
  }

  /** Per-document repetition profile over word n-grams (the Gopher-style
    * repetitive-content quality filter): total vs distinct n-grams,
    * repetition ratio 1 − distinct/total, and the share of the single most
    * frequent n-gram. Two hash aggregations keyed on (doc, ngram) then doc —
    * no per-doc state, scales with the corpus. Docs with fewer than `n`
    * tokens produce no n-grams and drop out. */
  def repetitionProfile(docs: DataFrame, n: Int,
                        idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val perNgram = docs
      .select(col(idCol), explode(ngrams(col(textCol), n)).as("ngram"))
      .groupBy(col(idCol), col("ngram"))
      .agg(count(lit(1)).as("c"))
    perNgram.groupBy(col(idCol))
      .agg(
        sum(col("c")).as("n_ngrams"),
        count(lit(1)).as("n_unique"),
        round(lit(1.0) - count(lit(1)).cast("double") / sum(col("c")), 6)
          .as("repetition_ratio"),
        round(max(col("c")).cast("double") / sum(col("c")), 6).as("top_share"))
  }

  /** Token-window document chunking: split each doc into fixed-size token
    * windows with overlap — the pass that turns cleaned documents into
    * training sequences. One row per (doc, chunk_idx) with the chunk text
    * and its token count; the last chunk is short rather than padded.
    *
    * Scale: explode of a per-row computed sequence — map-side only, no
    * shuffle, no per-doc state; chunk count is derived arithmetic, so a
    * 100 TB corpus chunks in a single scan-and-generate pass. */
  def chunk(docs: DataFrame, chunkSize: Int = 32, overlap: Int = 8,
            idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(overlap < chunkSize, "overlap must be < chunkSize")
    val stride = chunkSize - overlap
    val nTok = size(col("_toks"))
    val nChunks = when(nTok <= chunkSize, lit(1)).otherwise(
      ceil((nTok - chunkSize).cast("double") / stride).cast("int") + 1)
    docs
      .select(col(idCol), tokens(col(textCol)).as("_toks"))
      .select(col(idCol), col("_toks"), nTok.as("_n"),
        explode(sequence(lit(0), nChunks - 1)).as("chunk_idx"))
      .select(col(idCol), col("chunk_idx"),
        concat_ws(" ",
          slice(col("_toks"), col("chunk_idx") * stride + lit(1),
            lit(chunkSize)))
          .as("chunk_text"),
        least(lit(chunkSize), col("_n") - col("chunk_idx") * stride)
          .as("n_tokens"))
  }

  /** Token-budget shard packing: the step after cleaning/chunking that
    * assembles documents into fixed-token-budget training packs. Each doc
    * goes to a stable shard (`doc_id mod nShards` — deterministic across
    * engines, runs and partitionings), then consecutive docs within the
    * shard (stable id order) pack greedily by a running token sum:
    * `pack_id = floor(tokens_before_this_doc / tokensPerPack)`. A doc can
    * straddle a pack boundary — the deterministic greedy rule (samples
    * crossing sequence boundaries is standard causal-LM packing).
    *
    * Scale: the running sum is a per-shard window — nShards-way parallel,
    * no global sort or single-partition funnel; raise nShards so each
    * shard's window state stays executor-sized at 100 TB. */
  def packShards(docs: DataFrame, tokensPerPack: Long, nShards: Int = 64,
                 idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    packByTokens(
      docs.select(col(idCol), col(textCol))
        .withColumn("n_tokens", size(tokens(col(textCol)))),
      tokensPerPack, nShards, idCol, "n_tokens")
      .select(col("shard"), col(idCol), col("n_tokens"), col("cum_tokens"),
        col("pack_id"))

  /** The packing core over rows with a PRECOMPUTED token count (so chunked
    * or otherwise pre-tokenized units pack without re-tokenizing): stable
    * `id mod nShards` shard, per-shard running token sum, greedy pack_id.
    * Adds shard / cum_tokens / pack_id to the input columns. */
  def packByTokens(rows: DataFrame, tokensPerPack: Long, nShards: Int,
                   idCol: String, nTokensCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(tokensPerPack > 0 && nShards > 0,
      "tokensPerPack and nShards must be positive")
    val w = Window.partitionBy("shard").orderBy(col(idCol))
    rows
      .withColumn("shard", pmod(col(idCol), lit(nShards)).cast("int"))
      .withColumn("cum_tokens", sum(col(nTokensCol)).over(w))
      .withColumn("pack_id",
        ((col("cum_tokens") - col(nTokensCol)) / tokensPerPack).cast("long"))
  }

  /** LPT / snake shard packing — the load-balancing alternative to
    * [[packShards]]'s stable-mod rule: sort units by token count
    * DESCENDING and deal them boustrophedon ("snake draft") across the
    * shards — round r assigns ranks rn..rn+n−1 left-to-right when r is
    * even, right-to-left when odd, so every shard gets one unit per round
    * and the per-round direction flip cancels the within-round size skew.
    * This is the longest-processing-time-first family (Graham 1969 — LPT
    * keeps makespan ≤ 4/3 · OPT; the snake deal is its fixed-assignment
    * form, standard for static batch/shard balancing) — use it when shard
    * token-mass balance matters more than [[packShards]]'s
    * stable-under-growth ids (e.g. equal-work training shards).
    *
    * The global (n_tokens DESC, id ASC) rank is computed DISTRIBUTED —
    * never a partition-less window (which Spark executes as ONE task
    * holding the corpus): (1) a token-count histogram (bounded by the
    * number of distinct lengths, ≤ max doc length), (2) cumulative
    * offsets via a window over that bounded histogram only, (3) a
    * within-length rank partitioned by n_tokens, (4) rank = offset +
    * within-rank; the snake shard is then per-row arithmetic. Cost: one
    * histogram agg + one broadcast + one n_tokens-key window. */
  def packShardsLpt(docs: DataFrame, nShards: Int,
                    idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nShards > 0, "nShards must be positive")
    val d = docs.select(col(idCol),
      size(filter(tokens(col(textCol)), t => t =!= ""))
        .cast("long").as("n_tokens"))
    val hist = d.groupBy(col("n_tokens")).agg(count(lit(1)).as("_c"))
    // offsets over the HISTOGRAM: bounded rows, the only global window
    val wOff = Window.orderBy(col("n_tokens").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val off = hist
      .withColumn("_offset", coalesce(sum(col("_c")).over(wOff), lit(0L)))
      .drop("_c")
    val wIn = Window.partitionBy(col("n_tokens")).orderBy(col(idCol).asc)
    val ranked = d
      .withColumn("_rin", row_number().over(wIn).cast("long"))
      .join(broadcast(off), Seq("n_tokens"))
      .withColumn("lpt_rank", col("_offset") + col("_rin"))
    val roundIdx = floor((col("lpt_rank") - 1) / nShards).cast("long")
    val posInRound = pmod(col("lpt_rank") - 1, lit(nShards)).cast("long")
    val shard = when(pmod(roundIdx, lit(2)) === 0, posInRound)
      .otherwise(lit(nShards - 1) - posInRound)
    ranked.select(col(idCol), col("n_tokens"), col("lpt_rank"),
      roundIdx.as("pack_round"), shard.cast("int").as("shard"))
  }

  /** Per-document top-k terms by TF-IDF (smoothed idf = ln((N+1)/(df+1))):
    * keyword extraction / LM-corpus vocabulary weighting. Two hash
    * aggregations (term frequency, document frequency), the corpus size as
    * a broadcast scalar, and a WindowGroupLimit-prunable top-k window with
    * a deterministic (tfidf desc, term asc) tiebreak. */
  def tfidfTopK(docs: DataFrame, k: Int = 5, idCol: String = "doc_id",
                textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val terms = docs
      .select(col(idCol), explode(tokens(lower(col(textCol)))).as("term"))
    val tf = terms.groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    // document frequency as a COUNT window over the tf relation (one row
    // per (doc, term), so rows-per-term IS df) instead of aggregate +
    // join-back: the join-back shape evaluated the term explode once per
    // consumer — column pruning dropped `tf` from the df branch's copy of
    // the aggregate, so the subtrees never canonicalized equal and
    // ReusedExchange could not fire (the r17 spanDedup/boilerplate
    // election lesson, and r18's Selection one). One explode, one fewer
    // join; the window shape is skew-robust per the committed
    // plans/r18/skew_window_vs_salted.txt probe.
    val n = docs.agg(count(lit(1)).as("_n"))
    val wDf = Window.partitionBy(col("term"))
    val scored = tf.withColumn("df", count(lit(1)).over(wDf))
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        col("tf") * log((col("_n") + lit(1.0)) / (col("df") + lit(1.0))))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("tfidf").desc, col("term").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col(idCol), col("rank"), col("term"), col("tf"), col("df"),
        col("tfidf"))
  }

  /** HTML boilerplate-block extraction — the jusText class of algorithm
    * (Pomikálek 2011; the same block-classification stage trafilatura
    * runs inside RefinedWeb §3.1.2 and CCNet run before any quality
    * gate): segment the page into blocks at block-level tags, score each
    * block by link density / stopword density / length, classify
    * context-free, then rescue short/near-good blocks whose nearest
    * DEFINITE neighbor is good (the single-pass context-sensitive rule).
    * This is the one published-pipeline stage upstream of everything
    * else here: real corpora start from WARC HTML, and [[normalize]]
    * merely strips tags without classifying anything.
    *
    * Per block: `<script>`/`<style>` vanish with their content; the rest
    * of the page splits at block-level tags; inline markup (`<a>`,
    * `<b>`, …) stays inside its block for the link-density measurement
    * and is then stripped by the [[normalize]] chain (tags → entities →
    * control chars → whitespace). Context-free classes, the jusText
    * word-level subset:
    *  - link_density > `maxLinkDensity`                     → bad
    *  - n_chars < `lengthLow`                               → short
    *  - stop_frac ≥ `stopHigh` ∧ n_chars ≥ `lengthHigh`     → good
    *  - stop_frac ≥ `stopLow`                               → neargood
    *  - otherwise                                           → bad
    * Context pass: a short/neargood block becomes good iff the nearest
    * good/bad block before OR after it (same doc) is good, else bad —
    * headings and short connective paragraphs between good prose
    * survive, isolated boilerplate between link farms does not.
    *
    * Returns the block frame: (idCol, block_idx, block_text, n_chars,
    * n_words, stop_frac, link_density, cls_free, cls_final) with the
    * fractions 6dp-rounded so elections are engine-stable. Feed it to
    * [[htmlExtractDocs]] for the doc-grain extract.
    *
    * Scale: segmentation + scoring are pure per-row regex/array algebra
    * (codegen'd, zero shuffle off the scan); the context pass is ONE
    * window over (doc, block_idx) — blocks of a doc co-locate, no
    * corpus-grain exchange of text beyond that single doc-keyed
    * shuffle. */
  def htmlExtractBlocks(docs: DataFrame, lengthLow: Int = 80,
                        lengthHigh: Int = 200, stopLow: Double = 0.30,
                        stopHigh: Double = 0.32,
                        maxLinkDensity: Double = 0.2,
                        idCol: String = "doc_id",
                        htmlCol: String = "html"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val noScript = regexp_replace(
      regexp_replace(col(htmlCol), "(?is)<script[^>]*>.*?</script>", " "),
      "(?is)<style[^>]*>.*?</style>", " ")
    val blockTag = "(?i)</?(?:header|head|footer|title|html|body|table|" +
      "tr|td|section|article|nav|div|p|h[1-6]|li|ul|ol|br)\\b[^>]*>"
    val blocks = docs.select(col(idCol),
        posexplode(split(regexp_replace(noScript, blockTag, "\u0001"),
          "\u0001")).as(Seq("block_idx", "_raw")))
    val scored = blocks
      .withColumn("block_text", normalize(col("_raw")))
      .where(col("block_text") =!= "")
      .withColumn("n_chars", length(col("block_text")))
      .withColumn("_toks", tokens(lower(col("block_text"))))
      .withColumn("n_words", size(col("_toks")))
      .withColumn("stop_frac", round(
        stopCount(col("_toks"), StopwordsEn).cast("double") /
          col("n_words"), 6))
      .withColumn("_link_chars", coalesce(aggregate(
        regexp_extract_all(col("_raw"), lit("(?is)<a[^>]*>(.*?)</a>"),
          lit(1)),
        lit(0), (acc, x) =>
          acc + length(trim(regexp_replace(x, "<[^>]*>", " ")))), lit(0)))
      .withColumn("link_density", round(
        least(col("_link_chars").cast("double") / col("n_chars"),
          lit(1.0)), 6))
      .withColumn("cls_free",
        when(col("link_density") > maxLinkDensity, "bad")
          .when(col("n_chars") < lengthLow, "short")
          .when(col("stop_frac") >= stopHigh &&
            col("n_chars") >= lengthHigh, "good")
          .when(col("stop_frac") >= stopLow, "neargood")
          .otherwise("bad"))
    val definite = when(col("cls_free").isin("good", "bad"), col("cls_free"))
    val wPrev = Window.partitionBy(col(idCol)).orderBy(col("block_idx"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wNext = Window.partitionBy(col(idCol)).orderBy(col("block_idx"))
      .rowsBetween(1, Window.unboundedFollowing)
    scored
      .withColumn("_prev", last(definite, ignoreNulls = true).over(wPrev))
      .withColumn("_next", first(definite, ignoreNulls = true).over(wNext))
      .withColumn("cls_final",
        when(col("cls_free").isin("good", "bad"), col("cls_free"))
          .when(col("_prev") === "good" || col("_next") === "good", "good")
          .otherwise("bad"))
      .select(col(idCol), col("block_idx"), col("block_text"),
        col("n_chars").cast("long").as("n_chars"),
        col("n_words").cast("long").as("n_words"),
        col("stop_frac"), col("link_density"),
        col("cls_free"), col("cls_final"))
  }

  /** Doc-grain rollup of [[htmlExtractBlocks]]: per document, the
    * context-free class census, the extracted main text (final-good
    * blocks joined in block order with a newline — what the rest of the
    * curation chain consumes as `text`), and its size. Docs whose every
    * block is boilerplate surface with n_good = 0 and an empty extract
    * rather than vanishing — the drop decision belongs to the caller.
    * ONE doc-grain hash aggregation over the block frame. */
  def htmlExtractDocs(blocks: DataFrame,
                      idCol: String = "doc_id"): DataFrame =
    blocks.groupBy(col(idCol)).agg(
      count(lit(1)).as("n_blocks"),
      count(when(col("cls_free") === "good", 1)).as("n_free_good"),
      count(when(col("cls_free") === "neargood", 1)).as("n_neargood"),
      count(when(col("cls_free") === "short", 1)).as("n_short"),
      count(when(col("cls_final") === "good", 1)).as("n_good"),
      array_join(transform(
        array_sort(collect_list(when(col("cls_final") === "good",
          struct(col("block_idx"), col("block_text"))))),
        x => x.getField("block_text")), "\n").as("extracted_text"))
      .withColumn("extract_chars",
        length(col("extracted_text")).cast("long"))
}
