package graft

import org.apache.spark.sql.functions._

import graft.llm.{Dedup, ParityTwins, Sampling, TextAnalysis}
import graft.sources.Tables

/** Round-13 curation additions: char entropy, keep-best exact dedup,
  * winnowing fingerprints, per-stratum top-fraction keep, temperature
  * mixture weights. */
class CurationOpsSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val docs =
    Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))

  // ---------------------------------------------------------------- entropy

  test("char entropy: hand-computed values, empty doc, flags") {
    val d = Seq(
      (1L, "aabbbb"),        // H = log2(6) - (2·1 + 4·2)/6 = 0.918296…
      (2L, "aaaa"),          // single symbol: exactly 0.0 (and not -0.0)
      (3L, ""),              // no code points: null entropy, fails gate
      (4L, "abcdefgh"))      // 8 distinct: exactly 3 bits
      .toDF("doc_id", "text")
    val out = TextAnalysis.withEntropy(d).orderBy("doc_id").collect()
    val r1 = out(0)
    assert(r1.getAs[Long]("n_cp") == 6L)
    assert(r1.getAs[Long]("n_distinct_cp") == 2L)
    assert(math.abs(r1.getAs[Double]("entropy_bits") - 0.918296) < 1e-9)
    val h2 = out(1).getAs[Double]("entropy_bits")
    assert(h2 == 0.0 && !(1.0 / h2 < 0), "entropy of a constant doc must be +0.0")
    assert(out(1).getAs[Int]("pass_entropy") == 0)
    assert(out(2).getAs[Long]("n_cp") == 0L)
    assert(out(2).isNullAt(out(2).fieldIndex("entropy_bits")))
    assert(out(2).getAs[Int]("pass_entropy") == 0)
    assert(out(3).getAs[Double]("entropy_bits") == 3.0)
    assert(out(3).getAs[Int]("pass_entropy") == 1)
  }

  test("char entropy counts code points, not UTF-16 units") {
    // U+1D11E (musical G clef) is a surrogate pair in UTF-16
    val d = Seq((1L, "𝄞a")).toDF("doc_id", "text")
    val r = TextAnalysis.withEntropy(d).collect()(0)
    assert(r.getAs[Long]("n_cp") == 2L)
    assert(r.getAs[Long]("n_distinct_cp") == 2L)
    assert(r.getAs[Double]("entropy_bits") == 1.0)
  }

  test("char entropy is order-independent (pure function of the multiset)") {
    val d = Seq((1L, "the quick brown fox"), (2L, "fox brown quick the"))
      .toDF("doc_id", "text")
    val hs = TextAnalysis.withEntropy(d).select("entropy_bits")
      .as[Double].collect()
    assert(hs(0) == hs(1))
  }

  // ---------------------------------------------------------- keep-best

  test("exactKeepBest elects the longest raw rendition, ties to lowest id") {
    val d = Seq(
      (1L, "Hello World"),        // canonical twin of 2,3 — shortest
      (2L, "hello    world"),     // whitespace-inflated: longest → wins
      (3L, "HELLO WORLD"),        // same length as 1 → loses to longer 2
      (7L, "unique doc"),
      (8L, "TIE a"), (9L, "tie A")) // equal length: lowest id 8 wins
      .toDF("doc_id", "text")
    val out = Dedup.exactKeepBest(d, quality = length(col("text")))
    val byKeep = out.collect().map(r =>
      r.getAs[Long]("keep_id") ->
        ((r.getAs[Long]("n_copies"), r.getAs[Double]("keep_quality")))).toMap
    assert(byKeep.keySet == Set(2L, 7L, 8L))
    assert(byKeep(2L) == ((3L, 14.0)))
    assert(byKeep(7L) == ((1L, 10.0)))
    assert(byKeep(8L) == ((2L, 5.0)))
  }

  test("exactKeepBest agrees with exact on group structure") {
    val withDup = docs.unionByName(
      docs.where(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"),
          upper(col("text")).as("text")))
    val a = Dedup.exact(withDup).select("fingerprint", "n_copies")
    val b = Dedup.exactKeepBest(withDup, length(col("text")))
      .select("fingerprint", "n_copies")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  // ---------------------------------------------------------- winnowing

  test("winnowing: hand-checked guarantee and density on a tiny doc") {
    val d = Seq((1L, "a b c d e f g h i j")).toDF("doc_id", "text")
    val out = TextAnalysis.winnowFingerprints(d, k = 3, w = 4)
      .orderBy("pos").collect()
    // 8 grams, 5 windows; every window [s, s+3] must contain a selected pos
    val poss = out.map(_.getAs[Long]("pos")).toSeq
    assert(poss == poss.sorted && poss.distinct == poss)
    (0 to 4).foreach { s =>
      assert(poss.exists(p => p >= s && p <= s + 3),
        s"window at $s has no fingerprint")
    }
    // selected grams are real grams at their positions
    out.foreach { r =>
      val toks = "a b c d e f g h i j".split(" ")
      val p = r.getAs[Long]("pos").toInt
      assert(r.getAs[String]("gram") == toks.slice(p, p + 3).mkString(" "))
    }
    // density ~ 2/(w+1): far fewer than all 8 grams
    assert(out.length >= 2 && out.length <= 5)
  }

  test("winnowing guarantee: shared 6-token run ⇒ shared fingerprint hash") {
    // w + k − 1 = 6: any 6-token run shared by two docs must share ≥1 hash
    val shared = "alpha beta gamma delta epsilon zeta"
    val d = Seq(
      (1L, s"one two $shared three four"),
      (2L, s"$shared nine ten eleven twelve thirteen"))
      .toDF("doc_id", "text")
    val fp = TextAnalysis.winnowFingerprints(d, k = 3, w = 4)
    val h1 = fp.where(col("doc_id") === 1).select("gram_hash").as[Long].collect().toSet
    val h2 = fp.where(col("doc_id") === 2).select("gram_hash").as[Long].collect().toSet
    assert(h1.intersect(h2).nonEmpty)
  }

  test("winnowing: short docs (< k tokens absent, < w grams one window)") {
    val d = Seq((1L, "just two"), (2L, "exactly three tokens here"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.winnowFingerprints(d, k = 3, w = 4)
    assert(out.where(col("doc_id") === 1).count() == 0)
    // doc 2: 4 tokens → 2 grams < w → ONE short window → exactly 1 fingerprint
    assert(out.where(col("doc_id") === 2).count() == 1)
  }

  test("native winnowing ≡ the HOF reference formulation") {
    // the HOF form is the semantic spec (and O(n³) under CollapseProject —
    // why the native expression exists); small corpus keeps it affordable
    val small = docs.limit(30)
    val a = TextAnalysis.winnowFingerprints(small, k = 3, w = 4)
    val b = ParityTwins.winnowFingerprintsHof(small, k = 3, w = 4)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("winnowing throws past the 2^21-gram position budget") {
    val big = Seq((1L, (1 to 2097155).map(i => s"t$i").mkString(" ")))
      .toDF("doc_id", "text")
    val e = intercept[Exception] {
      TextAnalysis.winnowFingerprints(big).count()
    }
    assert(e.getMessage != null)
  }

  test("winnowing is partition-invariant") {
    val a = TextAnalysis.winnowFingerprints(docs, k = 3, w = 4)
    val b = TextAnalysis.winnowFingerprints(docs.repartition(17), k = 3, w = 4)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("winnowCandidates surfaces seeded truncation near-dups") {
    val toks = split(col("text"), "\\s+")
    val seeded = docs.unionByName(docs.where(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"),
        concat_ws(" ", slice(toks, lit(1), greatest(size(toks) - 2, lit(0))))
          .as("text")))
    val cand = Dedup.winnowCandidates(seeded, k = 3, w = 4,
      maxDf = 10, minShared = 2)
    assertNoCartesian(cand)
    val pairs = cand.select("doc_a", "doc_b")
      .as[(Long, Long)].collect().toSet
    // every seeded variant long enough to matter must pair with its source
    val expected = docs.where(col("doc_id") % 5 === 0 &&
        size(split(col("text"), "\\s+")) >= 12)
      .select("doc_id").as[Long].collect()
    expected.foreach { id =>
      assert(pairs.contains((id, id + 1000000)),
        s"seeded variant of $id not surfaced")
    }
    // containment is a valid ratio and high for the truncation variants
    val cont = cand.where(col("doc_b") === col("doc_a") + 1000000)
      .select("est_containment").as[Double].collect()
    assert(cont.nonEmpty && cont.forall(c => c > 0 && c <= 1.0))
  }

  test("winnowCandidates df cap excludes boilerplate hashes from blocking") {
    // 12 IDENTICAL docs (the pathological shared-footer corpus): every
    // fingerprint sits in 12 > maxDf=10 docs -> excluded -> zero pairs
    // instead of a C(12,2) bucket explosion
    val boiler = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val d = (1 to 12).map(i => (i.toLong, boiler)).toDF("doc_id", "text")
    val cand = Dedup.winnowCandidates(d, k = 3, w = 4, maxDf = 10,
      minShared = 1)
    assert(cand.count() == 0)
    // raising the cap to 12 restores all C(12,2) = 66 pairs
    val open = Dedup.winnowCandidates(d, k = 3, w = 4, maxDf = 12,
      minShared = 1)
    assert(open.count() == 66)
    assert(open.select("est_containment").as[Double].collect()
      .forall(_ == 1.0))
  }

  test("winnowCandidatesIncremental ≡ full pass restricted to batch pairs") {
    val toks = split(col("text"), "\\s+")
    val index = docs.where(col("doc_id") % 7 =!= 0)
    val batch = docs.where(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"),
        concat_ws(" ", slice(toks, lit(1), greatest(size(toks) - 2, lit(0))))
          .as("text"))
    val fpIndex = TextAnalysis.winnowFingerprints(index)
      .select(col("doc_id"), col("gram_hash")).distinct()
    val batchIds = batch.select(col("doc_id")).as[Long].collect().toSet
    val full = Dedup.winnowCandidates(index.unionByName(batch),
        maxDf = 10, minShared = 2)
      .where(col("doc_a").isin(batchIds.toSeq: _*) ||
        col("doc_b").isin(batchIds.toSeq: _*))
    // the operator pins its batch fingerprint relation (plan truncation)
    val incr = Dedup.winnowCandidatesIncremental(batch, fpIndex,
      maxDf = 10, minShared = 2)
    assert(incr.exceptAll(full).isEmpty && full.exceptAll(incr).isEmpty)
    assert(incr.count() > 0, "seeded variants must produce candidates")
  }

  test("winnowCandidatesIncremental fails loud on a batch/index id collision") {
    // same doc id on both sides, sharing grams so they become candidates:
    // the df census double-counts shared hashes, the self-pair vanishes
    // under _a < _b, and the sizes union turns ambiguous — the in-plan
    // assert must kill the job rather than resolve it arbitrarily
    val hist = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight"))
      .toDF("doc_id", "text")
    // batch id 1 collides with hist id 1 AND pairs with hist doc 2 (shared
    // gram run), so the colliding id reaches the sizes union
    val batch = Seq((1L, "one two three four five six seven nine"))
      .toDF("doc_id", "text")
    val fpIndex = TextAnalysis.winnowFingerprints(hist)
      .select(col("doc_id"), col("gram_hash")).distinct()
    val e = intercept[Exception] {
      Dedup.winnowCandidatesIncremental(batch, fpIndex,
        maxDf = 10, minShared = 1).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("BOTH newDocs and fpIndex")), e)
  }

  // ---------------------------------------------------------- url dedup

  test("canonicalizeUrl: hand-checked rule battery") {
    val cases = Seq(
      // scheme+host case-fold, default http port, trailing slash,
      // tracking param, fragment — path case preserved
      ("HTTP://Example.COM:80/A/b/?x=1&utm_source=z#frag",
        "http://example.com/A/b?x=1"),
      // https default port + param sorting
      ("https://example.com:443/a?b=2&a=1", "https://example.com/a?a=1&b=2"),
      // bare root slash ≡ no path
      ("https://example.com/", "https://example.com"),
      // NON-default port preserved
      ("https://example.com:8443/a", "https://example.com:8443/a"),
      // all-tracking query drops its '?'
      ("http://a.com/x?utm_source=1&fbclid=2&gclid=3&ref=4", "http://a.com/x"),
      // no query/fragment: passthrough with slash collapse
      ("https://a.com/x//", "https://a.com/x"),
      // whitespace trim
      ("  https://a.com/x  ", "https://a.com/x"))
    val df = cases.toDF("url", "expected")
      .withColumn("got", TextAnalysis.canonicalizeUrl(col("url")))
    val bad = df.where(col("got") =!= col("expected")).collect()
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("urlKeepBest: canonical groups collapse, best quality wins, ties to" +
      " the lowest id") {
    val d = Seq(
      (1L, "https://A.com/p?utm_source=x", 10.0),
      (2L, "HTTPS://a.COM/p/", 30.0),
      (3L, "https://a.com:443/p#top", 30.0), // quality tie with 2 → keep 2
      (4L, "https://b.com/q", 5.0))
      .toDF("doc_id", "url", "quality")
    val out = Dedup.urlKeepBest(d, col("url"), col("quality"))
      .orderBy("canonical_url").collect()
    assert(out.length == 2)
    assert(out(0).getAs[String]("canonical_url") == "https://a.com/p")
    assert(out(0).getAs[Long]("n_copies") == 3L)
    assert(out(0).getAs[Long]("n_raw_forms") == 3L)
    assert(out(0).getAs[Long]("keep_id") == 2L)
    assert(out(0).getAs[Double]("keep_quality") == 30.0)
    assert(out(1).getAs[Long]("keep_id") == 4L)
  }

  test("urlKeepBestIncremental: status semantics and merged election") {
    val hist = Seq(
      (1L, "https://a.com/p", 10.0), (2L, "https://a.com/p/", 30.0),
      (3L, "https://b.com/q", 20.0))
      .toDF("doc_id", "url", "quality")
    val index = Dedup.urlKeepBest(hist, col("url"), col("quality"))
      .select("canonical_url", "n_copies", "keep_id", "keep_quality")
    val batch = Seq(
      (11L, "HTTPS://A.com/p#x", 25.0),  // loses to id 2 (30.0) → kept
      (12L, "https://b.com/q?utm_source=z", 99.0), // wins → improved
      (13L, "https://c.com/r", 7.0))     // unseen address → new
      .toDF("doc_id", "url", "quality")
    val out = Dedup.urlKeepBestIncremental(batch, index, col("url"),
      col("quality")).orderBy("canonical_url").collect()
    assert(out.map(_.getAs[String]("status")).toSeq ==
      Seq("kept", "improved", "new"))
    // merged counts: history copies + batch copies
    assert(out(0).getAs[Long]("n_copies") == 3L &&
      out(0).getAs[Long]("keep_id") == 2L)
    assert(out(1).getAs[Long]("n_copies") == 2L &&
      out(1).getAs[Long]("keep_id") == 12L &&
      out(1).getAs[Double]("keep_quality") == 99.0)
    assert(out(2).getAs[Long]("n_copies") == 1L &&
      out(2).getAs[Long]("keep_id") == 13L)
  }

  test("urlKeepBestIncremental composes: two increments ≡ one batch") {
    val hist = Seq((1L, "https://a.com/p", 10.0))
      .toDF("doc_id", "url", "quality")
    val b1 = Seq((11L, "https://a.com/p", 50.0), (12L, "https://d.com/s", 5.0))
      .toDF("doc_id", "url", "quality")
    val b2 = Seq((21L, "https://a.com/p", 40.0), (22L, "https://d.com/s", 9.0))
      .toDF("doc_id", "url", "quality")
    val idx0 = Dedup.urlKeepBest(hist, col("url"), col("quality"))
      .select("canonical_url", "n_copies", "keep_id", "keep_quality")
    // state after b1 = idx0 rows overridden by b1's merged rows
    val idx1 = Dedup.urlKeepBestIncremental(b1, idx0, col("url"),
        col("quality"))
      .select("canonical_url", "n_copies", "keep_id", "keep_quality")
      .unionByName(idx0.join(
        Dedup.urlKeepBestIncremental(b1, idx0, col("url"), col("quality"))
          .select("canonical_url"),
        Seq("canonical_url"), "left_anti"))
    val twoStep = Dedup.urlKeepBestIncremental(b2, idx1, col("url"),
        col("quality"))
      .select("canonical_url", "n_copies", "keep_id", "keep_quality")
      .collect().map(_.toSeq).toSet
    val oneStep = Dedup.urlKeepBestIncremental(b1.unionByName(b2), idx0,
        col("url"), col("quality"))
      .select("canonical_url", "n_copies", "keep_id", "keep_quality")
      .collect().map(_.toSeq).toSet
    // every URL b2 touches reports the same merged row either way
    assert(twoStep == oneStep.filter(r =>
      Set("https://a.com/p", "https://d.com/s").contains(r.head.toString)))
  }

  // --------------------------------- line-grain quality rules (round 15)

  test("lineQualityRules: per-rule flags, char-weighted verdict, cleaned " +
      "text; empty and all-flagged docs behave") {
    import spark.implicits._
    val docs = Seq(
      // healthy doc with one bullet line removed, doc kept
      (1L, "this is a perfectly normal sentence here\n- nav bullet\nanother decent line of text"),
      // all-flagged: SHOUTING + short + ellipsis → dropped, nothing kept
      (2L, "ALL CAPS HEADER LINE\nhi\nread the rest..."),
      // numeric-only line + mixed
    // note: '7 42' is numeric AND short
      (3L, "7 42\nwords enough to pass all the rules fine"),
      // empty doc: one empty line, short-flagged, 0/0 chars → kept, ''
      (4L, ""))
      .toDF("doc_id", "text")
    val out = TextAnalysis.lineQualityRules(docs)
      .orderBy("doc_id").collect()
    val d1 = out(0)
    assert(d1.getAs[Long]("n_lines") == 3 && d1.getAs[Long]("n_bullet") == 1
      && d1.getAs[Long]("n_flagged") == 1)
    assert(d1.getAs[Int]("keep_doc") == 1)
    assert(d1.getAs[String]("kept_text") ==
      "this is a perfectly normal sentence here\nanother decent line of text")
    val d2 = out(1)
    assert(d2.getAs[Long]("n_upper") == 1 && d2.getAs[Long]("n_short") >= 1
      && d2.getAs[Long]("n_ellipsis") == 1)
    assert(d2.getAs[Long]("n_flagged") == 3 &&
      d2.getAs[Double]("flagged_char_frac") == 1.0)
    assert(d2.getAs[Int]("keep_doc") == 0 && d2.getAs[String]("kept_text") == "")
    val d3 = out(2)
    assert(d3.getAs[Long]("n_numeric") == 1 && d3.getAs[Long]("n_flagged") == 1)
    assert(d3.getAs[Int]("keep_doc") == 1)
    val d4 = out(3)
    assert(d4.getAs[Long]("n_lines") == 1 && d4.getAs[Long]("n_short") == 1)
    assert(d4.getAs[Double]("flagged_char_frac") == 0.0 &&
      d4.getAs[Int]("keep_doc") == 1 && d4.getAs[String]("kept_text") == "")
  }

  // --------------------------------- packed election key (round 15)

  test("packed election ≡ struct reference: ties, negative/NaN/±0.0 and" +
      " null qualities elect identically") {
    import spark.implicits._
    val docs = Seq[(Long, String, Option[Double])](
      (1L, "http://A.com/x?utm_source=z", Some(5.0)),   // tie with 2 → 2 loses (higher id)
      (2L, "http://a.com/x", Some(5.0)),
      (3L, "http://a.com/x#frag", Some(4.0)),
      (4L, "https://b.com/", Some(-3.5)),
      (5L, "https://b.com", Some(Double.NaN)),           // NaN greatest (Spark double order)
      (6L, "https://c.com/q", Some(0.0)),
      (7L, "https://c.com/q", Some(-0.0)),               // -0.0 < 0.0 → 6 wins
      (8L, "https://d.com/n", None),                     // all-null-q group
      (9L, "https://d.com/n", None),                     //   → lowest id wins, q null
      (10L, "https://e.com/m", None),                    // null loses to any value
      (11L, "https://e.com/m", Some(-1e300)))
      .toDF("doc_id", "url", "quality")
    val packed = Dedup.urlKeepBest(docs, col("url"), col("quality"))
    val ref = Dedup.urlKeepBestFullRange(docs, col("url"), col("quality"))
    assert(packed.exceptAll(ref).count() == 0 &&
      ref.exceptAll(packed).count() == 0,
      packed.orderBy("canonical_url").collect().mkString("\n") + "\n----\n" +
        ref.orderBy("canonical_url").collect().mkString("\n"))
    val textDocs = docs.withColumn("text", col("url"))
    val p2 = Dedup.exactKeepBest(textDocs, col("quality"))
    val r2 = Dedup.exactKeepBestFullRange(textDocs, col("quality"))
    assert(p2.exceptAll(r2).count() == 0 && r2.exceptAll(p2).count() == 0)
  }

  test("urlKeepBestIncremental: a null-quality history winner that stands" +
      " reports 'kept' (injective-key equality, not null-propagating)") {
    import spark.implicits._
    // history index row with NULL keep_quality (every copy so far had a
    // null score) — the standing winner must report 'kept', not
    // 'improved', when a batch copy with null quality and a HIGHER id
    // loses the election
    val index = Seq((Option.empty[Double], 1L, 1L, "https://n.com/p"))
      .toDF("keep_quality", "keep_id", "n_copies", "canonical_url")
    val batch = Seq((5L, "https://n.com/p", Option.empty[Double]))
      .toDF("doc_id", "url", "quality")
    val out = Dedup.urlKeepBestIncremental(batch, index, col("url"),
      col("quality")).collect()
    assert(out.length == 1)
    assert(out.head.getAs[String]("status") == "kept")
    assert(out.head.getAs[Long]("keep_id") == 1L)
    assert(out.head.isNullAt(out.head.fieldIndex("keep_quality")))
    assert(out.head.getAs[Long]("n_copies") == 2L)
    // and the mirror: a LOWER-id null-quality batch copy beats the
    // null-quality history winner → 'improved'
    val batch2 = Seq((0L, "https://n.com/p", Option.empty[Double]))
      .toDF("doc_id", "url", "quality")
    val out2 = Dedup.urlKeepBestIncremental(batch2, index, col("url"),
      col("quality")).collect()
    assert(out2.head.getAs[String]("status") == "improved" &&
      out2.head.getAs[Long]("keep_id") == 0L)
  }

  test("packed election id contract: negative ids fail loudly and the" +
      " FullRange twins cover the entire signed range") {
    import spark.implicits._
    val signed = Seq(
      (Long.MinValue, "https://s.com/a", 5.0),  // tie → MinValue is LOWEST
      (-7L, "https://s.com/a", 5.0),
      (2L, "https://s.com/a?utm_source=x", 4.0),
      (-1L, "https://t.com/b", 1.0),
      (Long.MaxValue, "https://t.com/b#f", 9.0))
      .toDF("doc_id", "url", "quality")
    // packed path: loud contract error, pointing at the remedy
    val err = intercept[org.apache.spark.SparkException] {
      Dedup.urlKeepBest(signed, col("url"), col("quality")).collect()
    }
    def rootMsg(t: Throwable): String =
      Option(t.getCause).map(rootMsg).getOrElse(t.getMessage)
    assert(rootMsg(err).contains("FullRange"), rootMsg(err))
    // FullRange twin: total over signed ids, incl. Long.MinValue (plain
    // -id overflows there); quality desc, ties to the LOWEST id
    val out = Dedup.urlKeepBestFullRange(signed, col("url"), col("quality"))
      .orderBy("canonical_url").collect()
    assert(out.length == 2)
    assert(out(0).getAs[Long]("keep_id") == Long.MinValue &&
      out(0).getAs[Double]("keep_quality") == 5.0)
    assert(out(1).getAs[Long]("keep_id") == Long.MaxValue &&
      out(1).getAs[Double]("keep_quality") == 9.0)
    val textDocs = signed.withColumn("text", col("url"))
    val exactOut = Dedup.exactKeepBestFullRange(textDocs, col("quality"))
    // MinValue and -7 share identical text (quality tie) → one group,
    // and the LOWEST signed id (MinValue) wins the tie
    assert(exactOut.count() == 4)
    assert(exactOut.where(col("keep_id") === Long.MinValue).count() == 1)
  }

  test("packed election: merge/incremental agree with the full pass and" +
      " the winner's quality round-trips exactly") {
    import spark.implicits._
    val all = Seq(
      (1L, "https://a.com/p", 0.1 + 0.2),  // non-representable double
      (2L, "https://a.com/p/", 0.3),       // 0.3 ≠ 0.1+0.2 at the last ulp
      (3L, "https://b.com/q", 1e-17),
      (4L, "https://b.com/q#f", 2e-17))
      .toDF("doc_id", "url", "quality")
    val fullIdx = Dedup.urlKeepBest(all, col("url"), col("quality"))
      .select("canonical_url", "n_copies", "keep_id", "keep_quality")
    val h = all.where(col("doc_id") <= 2)
    val b = all.where(col("doc_id") > 2)
    val parts = Dedup.urlKeepBest(h, col("url"), col("quality"))
      .unionByName(Dedup.urlKeepBest(b, col("url"), col("quality")))
      .select("canonical_url", "n_copies", "keep_id", "keep_quality")
    val merged = Dedup.mergeUrlIndex(parts)
    assert(merged.exceptAll(fullIdx).count() == 0 &&
      fullIdx.exceptAll(merged).count() == 0)
    // exact bit round-trip: 0.1+0.2 must come back as exactly 0.1+0.2
    val q = fullIdx.where(col("canonical_url") === "https://a.com/p")
      .select("keep_quality").as[Double].collect()(0)
    assert(q == 0.1 + 0.2 && q != 0.3)
  }

  test("packed election rejects negative ids loudly") {
    import spark.implicits._
    val bad = Seq((-1L, "https://a.com/p", 1.0)).toDF("doc_id", "url", "quality")
    val e = intercept[Exception] {
      Dedup.urlKeepBest(bad, col("url"), col("quality")).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("non-negative")), e.toString)
  }

  // ------------------------------------------ incremental span dedup

  private def paraDocs = {
    val toks = split(col("text"), "\\s+")
    val para = array_join(transform(
      sequence(lit(0), greatest(
        floor((size(toks) - 1) / 12).cast("int"), lit(0))),
      c => concat_ws(" ", slice(toks, c * 12 + 1, lit(12)))), ". ")
    docs.select(col("doc_id"), para.as("text"))
  }

  test("spanDedupIncremental ≡ full spanDedup restricted to batch docs") {
    val hist = paraDocs.where(col("doc_id") % 7 =!= 0)
    val batch = paraDocs.where(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"),
        concat(col("text"), lit(". tail "), col("doc_id")).as("text"))
    val idx = Dedup.spanHashes(hist)
    val incr = Dedup.spanDedupIncremental(batch, idx)
    // batch ids are strictly above history ids, so the full-pass
    // min-(id,pos) election gives history unconditional precedence —
    // exactly the frozen-history semantics the incremental op implements
    val full = Dedup.spanDedup(hist.unionByName(batch))
      .where(col("doc_id") >= 1000000)
    assert(incr.exceptAll(full).isEmpty && full.exceptAll(incr).isEmpty)
    val rows = incr.collect()
    assert(rows.nonEmpty && rows.exists(_.getAs[Long]("n_removed") > 0))
  }

  test("spanDedupIncremental: Bloom fpp cannot change the answer, only " +
      "the verify load (nominate-verify exactness)") {
    val hist = paraDocs.where(col("doc_id") % 7 =!= 0).limit(60)
    val batch = paraDocs.where(col("doc_id") % 5 === 0).limit(40)
      .select((col("doc_id") + 1000000).as("doc_id"), col("text"))
    val idx = Dedup.spanHashes(hist)
    val loose = Dedup.spanDedupIncremental(batch, idx, fpp = 0.4)
    val tight = Dedup.spanDedupIncremental(batch, idx, fpp = 1e-6)
    assert(loose.exceptAll(tight).isEmpty && tight.exceptAll(loose).isEmpty)
  }

  test("spanDedupIncremental: empty history index ≡ within-batch spanDedup") {
    val batch = paraDocs.where(col("doc_id") % 5 === 0).limit(30)
    val empty = Dedup.spanHashes(paraDocs.where(lit(false)))
    val incr = Dedup.spanDedupIncremental(batch, empty)
    val full = Dedup.spanDedup(batch)
    assert(incr.exceptAll(full).isEmpty && full.exceptAll(incr).isEmpty)
  }

  // ------------------------------------------------- per-stratum top-frac

  test("topFractionPerStratum keeps ceil(frac·n) best per stratum") {
    val d = (1 to 10).map(i => (i.toLong, "s1", i * 10)) ++
      Seq((100L, "s2", 5), (101L, "s2", 7), (102L, "s2", 7))
    val df = d.toDF("doc_id", "source", "n_chars")
    val out = Sampling.topFractionPerStratum(df, "source", col("n_chars"),
      frac = 0.4).orderBy("source", "stratum_rank").collect()
    // s1: 10 rows → keep 4, the largest n_chars (100, 90, 80, 70)
    val s1 = out.filter(_.getAs[String]("source") == "s1")
    assert(s1.map(_.getAs[Int]("n_chars")).toSeq == Seq(100, 90, 80, 70))
    // s2: 3 rows → ceil(1.2) = 2; tie at 7 breaks to lower id 101
    val s2 = out.filter(_.getAs[String]("source") == "s2")
    assert(s2.map(_.getAs[Long]("doc_id")).toSeq == Seq(101L, 102L))
    assert(s2.map(_.getAs[Long]("n_stratum")).toSeq == Seq(3L, 3L))
  }

  test("topFractionPerStratum frac=1 keeps everything") {
    val base = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("n_chars"))
    val out = Sampling.topFractionPerStratum(base, "source",
      col("n_chars"), frac = 1.0)
    assert(out.count() == base.count())
  }

  // ------------------------------------------------- temperature mixture

  test("temperatureWeights: α=1 is proportional, α→0 flattens") {
    val d = Seq(("a", 900L), ("b", 90L), ("c", 10L)).toDF("source", "mass")
    val p1 = Sampling.temperatureWeights(d, "source", col("mass"),
      alpha = 1.0, budget = 1000.0).orderBy("source").collect()
    assert(p1.map(_.getAs[Double]("p_temp")).toSeq == Seq(0.9, 0.09, 0.01))
    assert(p1.map(_.getAs[Double]("upsample_factor")).forall(_ == 1.0))
    val p03 = Sampling.temperatureWeights(d, "source", col("mass"),
      alpha = 0.3, budget = 1000.0).orderBy("source").collect()
    val shares = p03.map(_.getAs[Double]("p_temp"))
    // flattening: the dominant source shrinks, the tail grows
    assert(shares(0) < 0.9 && shares(2) > 0.01)
    assert(math.abs(shares.sum - 1.0) < 1e-6)
    // expected tokens sum to the budget
    assert(math.abs(p03.map(_.getAs[Double]("expected_tokens")).sum - 1000.0) < 0.1)
    // upsampling direction: tail up, head down
    assert(p03(0).getAs[Double]("upsample_factor") < 1.0)
    assert(p03(2).getAs[Double]("upsample_factor") > 1.0)
  }

  test("temperatureWeights: zero-mass source gets zero share, null factor") {
    val d = Seq(("a", Some(100L)), ("b", None)).toDF("source", "mass")
    val out = Sampling.temperatureWeights(d, "source", col("mass"),
      alpha = 0.5, budget = 100.0).orderBy("source").collect()
    assert(out(1).getAs[Double]("p_temp") == 0.0)
    assert(out(1).isNullAt(out(1).fieldIndex("upsample_factor")))
    assert(out(0).getAs[Double]("p_temp") == 1.0)
  }

  // -------------------------------------------------- heavy hitters (r14)

  test("heavyHitters ≡ naive full-vocabulary plan (nominate-verify exactness)") {
    val d = Seq(
      (1L, "a a a b b c"), (2L, "A b! b! c d"), (3L, "a c c c"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.heavyHitters(d, minCount = 3L)
      .orderBy(desc("cnt"), asc("token")).collect()
    // lower-cased whitespace tokens: a×5 (A lower-cases), b×2, b!×2, c×5, d×1
    assert(got.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("a", 5L), ("c", 5L)))
    // share rides the TOTAL token stream (15), not the heavy subset
    assert(got.forall(r => math.abs(r.getAs[Double]("share") - 5.0 / 15) < 1e-6))
  }

  test("heavyHitters stays exact under a collision-heavy sketch (wide eps)") {
    // eps=0.9 → width 3: every token collides with others in the CMS, the
    // nominate stage passes nearly everything — the exact confirm must
    // still emit exactly the true heavy hitters
    val d = Seq(
      (1L, "x x x x y y z w v u t s r q p o"), (2L, "y z z x"))
      .toDF("doc_id", "text")
    val loose = TextAnalysis.heavyHitters(d, minCount = 3L, eps = 0.9)
      .orderBy("token").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val tight = TextAnalysis.heavyHitters(d, minCount = 3L, eps = 1e-4)
      .orderBy("token").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(loose == Seq(("x", 5L), ("y", 3L), ("z", 3L)))
    assert(loose == tight)
  }

  // ------------------------------------------------ prototype prune (r14)

  test("prototypePrune: per-cell counts, rank order, and verdict algebra") {
    // two well-separated 2-D clusters, 5 vectors each; ids 1 and 2 are the
    // deterministic codebook init and sit one per cluster
    val a = Seq(1L -> Array(1.0, 0.0), 3L -> Array(1.0, 0.05),
      5L -> Array(1.0, 0.1), 7L -> Array(1.0, 0.2), 9L -> Array(1.0, 0.4))
    val b = Seq(2L -> Array(0.0, 1.0), 4L -> Array(0.05, 1.0),
      6L -> Array(0.1, 1.0), 8L -> Array(0.2, 1.0), 10L -> Array(0.4, 1.0))
    val d = (a ++ b).map { case (id, v) => (id, v.toSeq) }
      .toDF("vec_id", "embedding")
    val out = graft.llm.Similarity.prototypePrune(d, k = 2,
      pruneFrac = 0.4, outlierFrac = 0.2, refineIters = 1)
    assertNoCartesian(out)
    val rows = out.collect()
    assert(rows.length == 10)
    val byCell = rows.groupBy(_.getAs[Int]("cluster"))
    assert(byCell.size == 2 && byCell.values.forall(_.length == 5))
    for ((_, cell) <- byCell) {
      // ranks are a permutation of 1..n_cell, n_cell is right everywhere
      assert(cell.map(_.getAs[Long]("proto_rank")).sorted.toSeq == (1L to 5L))
      assert(cell.forall(_.getAs[Long]("n_cell") == 5L))
      // ceil(0.4·5)=2 pruned head + floor(0.2·5)=1 outlier tail → 2 kept
      val kept = cell.filter(_.getAs[Int]("kept") == 1)
        .map(_.getAs[Long]("proto_rank")).sorted.toSeq
      assert(kept == Seq(3L, 4L))
      // rank 1 = most prototypical (highest centroid sim)
      val sims = cell.sortBy(_.getAs[Long]("proto_rank"))
        .map(_.getAs[Double]("centroid_sim")).toSeq
      assert(sims == sims.sorted.reverse)
    }
  }

  test("prototypePrune: refineIters=0 scores against the raw init codebook") {
    val d = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0)),
      (3L, Seq(0.9, 0.1)), (4L, Seq(0.1, 0.9)))
      .toDF("vec_id", "embedding")
    val out = graft.llm.Similarity.prototypePrune(d, k = 2, pruneFrac = 0.5,
      outlierFrac = 0.0, refineIters = 0).collect()
    // under the raw init, ids 1 and 2 ARE the centroids: sim 1.0, rank 1,
    // and with pruneFrac=0.5 (ceil(1)=1 of 2) exactly they get pruned
    val protos = out.filter(_.getAs[Double]("centroid_sim") == 1.0)
    assert(protos.map(_.getAs[Long]("vec_id")).sorted.toSeq == Seq(1L, 2L))
    assert(protos.forall(_.getAs[Int]("kept") == 0))
    assert(out.filter(_.getAs[Int]("kept") == 1)
      .map(_.getAs[Long]("vec_id")).sorted.toSeq == Seq(3L, 4L))
  }

  // -------------------------------------------- tokenizer fertility (r14)

  test("tokenizerFertility: hand-computed volumes, multibyte bytes vs chars") {
    val d = Seq(
      // "héllo, world" → words 2; bpe-ish: héllo → h + é? é is non-ASCII →
      // punctuation class [^a-zA-Z0-9\s] → tokens: h, é, llo, ',', world = 5
      (1L, "héllo, world", "fr", "s1"),
      (2L, "ab cd", "fr", "s1"),   // 2 words, 2 subwords
      (3L, "x1y", "en", "s2"))     // 1 word; bpe-ish: x,1,y = 3 subwords
      .toDF("doc_id", "text", "lang", "source")
    val out = TextAnalysis.tokenizerFertility(d).orderBy("lang", "source")
      .collect()
    assert(out.length == 2)
    val en = out(0); val fr = out(1)
    assert(en.getAs[Long]("n_docs") == 1L && en.getAs[Long]("n_words") == 1L
      && en.getAs[Long]("n_subwords") == 3L)
    assert(en.getAs[Long]("n_chars") == 3L && en.getAs[Long]("n_bytes") == 3L)
    assert(en.getAs[Double]("fertility") == 3.0)
    assert(fr.getAs[Long]("n_docs") == 2L && fr.getAs[Long]("n_words") == 4L)
    assert(fr.getAs[Long]("n_subwords") == 7L)
    // é is 2 bytes in UTF-8: chars 12+5=17, bytes 13+5=18
    assert(fr.getAs[Long]("n_chars") == 17L && fr.getAs[Long]("n_bytes") == 18L)
    assert(math.abs(fr.getAs[Double]("fertility") - 7.0 / 4) < 1e-9)
    assert(math.abs(fr.getAs[Double]("bytes_per_subword") - 18.0 / 7) < 1e-6)
  }

  // ------------------------------------------------- LPT packing (r14)

  test("packShardsLpt: snake deal, distributed rank ≡ naive, balance") {
    // 8 docs with token counts 8..1 (ids break the 4/4 tie pair)
    val d = (1 to 8).map(i => (i.toLong, ("w " * (9 - i)).trim))
      .toDF("doc_id", "text")
    val out = TextAnalysis.packShardsLpt(d, nShards = 3)
      .orderBy("lpt_rank").collect()
    // rank follows tokens desc (id 1 has 8 tokens -> rank 1)
    assert(out.map(_.getAs[Long]("lpt_rank")).toSeq == (1L to 8L))
    assert(out.map(_.getAs[Long]("doc_id")).toSeq == (1L to 8L))
    // snake: round 0 → 0,1,2; round 1 → 2,1,0; round 2 → 0,1
    assert(out.map(_.getAs[Int]("shard")).toSeq ==
      Seq(0, 1, 2, 2, 1, 0, 0, 1))
    // the deal balances token mass: sums are 8+3+2=13, 7+4+1=12, 6+5=11
    val sums = out.groupBy(_.getAs[Int]("shard"))
      .view.mapValues(_.map(_.getAs[Long]("n_tokens")).sum).toMap
    assert(sums == Map(0 -> 13L, 1 -> 12L, 2 -> 11L))
  }

  test("packShardsLpt ties rank by id within equal token counts") {
    val d = Seq((10L, "a b"), (3L, "c d"), (7L, "e f g"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.packShardsLpt(d, nShards = 2)
      .orderBy("lpt_rank").collect()
    assert(out.map(_.getAs[Long]("doc_id")).toSeq == Seq(7L, 3L, 10L))
  }

  // ------------------------------------------- source divergence (r14)

  test("sourceDivergence: hand-computed KL/JS, zero divergence on twins") {
    val d = Seq(
      (1L, "a a b", "s1"), (2L, "a a b", "s2"),   // s1 ≡ s2
      (3L, "c c c c", "s3"))                       // s3 disjoint
      .toDF("doc_id", "text", "source")
    val out = graft.llm.Curation.sourceDivergence(d, alpha = 0.5)
      .orderBy("src_a", "src_b").collect()
    assert(out.length == 3)
    val twin = out(0) // (s1, s2)
    assert(twin.getAs[Long]("v_union") == 2L &&
      twin.getAs[Long]("v_shared") == 2L)
    assert(twin.getAs[Double]("kl_ab") == 0.0 &&
      twin.getAs[Double]("js") == 0.0)
    // (s1, s3): union {a,b,c}, nothing shared; hand-computed smoothed
    // dists over V=3, α=0.5: p1 = (2.5, 1.5, 0.5)/4.5; p3 = (.5,.5,4.5)/5.5
    val x = out(1)
    assert(x.getAs[Long]("v_union") == 3L && x.getAs[Long]("v_shared") == 0L)
    val p1 = Seq(2.5 / 4.5, 1.5 / 4.5, 0.5 / 4.5)
    val p3 = Seq(0.5 / 5.5, 0.5 / 5.5, 4.5 / 5.5)
    def lg2(v: Double) = math.log(v) / math.log(2)
    val kl = p1.zip(p3).map { case (p, q) => p * lg2(p / q) }.sum
    val js = p1.zip(p3).map { case (p, q) =>
      p * lg2(p / ((p + q) / 2)) / 2 + q * lg2(q / ((p + q) / 2)) / 2 }.sum
    assert(math.abs(x.getAs[Double]("kl_ab") - kl) < 1e-5)
    assert(math.abs(x.getAs[Double]("js") - js) < 1e-5)
    // JS is symmetric: (s2, s3) must equal (s1, s3)
    assert(out(2).getAs[Double]("js") == x.getAs[Double]("js"))
  }

  // --------------------------------------------- weighted sample (r14)

  test("weightedSample: k >= n keeps all; dominant weight always wins") {
    val d = Seq((1L, 10.0), (2L, 10.0), (3L, 1e9), (4L, 10.0))
      .toDF("doc_id", "w")
    val all = Sampling.weightedSample(d, "doc_id", col("w"), k = 10)
    assert(all.count() == 4)
    // w=1e9 ⇒ key = ln(u)/1e9 ≈ 0⁻, strictly above any w=10 key
    val top = Sampling.weightedSample(d, "doc_id", col("w"), k = 1).collect()
    assert(top.head.getAs[Long]("doc_id") == 3L)
  }

  test("weightedSample is partitioning-invariant and rejects bad weights") {
    val d = (1L to 200L).map(i => (i, (i % 13 + 1).toDouble))
      .toDF("doc_id", "w")
    val a = Sampling.weightedSample(d.repartition(1), "doc_id", col("w"), 20)
      .select("doc_id").as[Long].collect().toSet
    val b = Sampling.weightedSample(d.repartition(16), "doc_id", col("w"), 20)
      .select("doc_id").as[Long].collect().toSet
    assert(a == b && a.size == 20)
    val bad = Seq((1L, 0.0)).toDF("doc_id", "w")
    val e = intercept[Exception] {
      Sampling.weightedSample(bad, "doc_id", col("w"), 1).collect()
    }
    assert(e.getMessage.contains("weights must be positive"))
  }

  // ---------------------------------------------------------- htmlExtract

  test("htmlExtract: script/style vanish with content, class battery, " +
      "short-block rescue, all-boilerplate and plain-text docs") {
    val good = ("the market is strong and the data is clean and " * 4).trim
    val noise = Seq.fill(20)("zz").mkString(" ")
    val page1 =
      "<html><head><title>T</title><style>body{c:red}</style>" +
        "<script>alert(1)</script></head><body>" +
        "<nav><a href=\"/\">Home</a> <a href=\"/b\">Blog</a></nav>" +
        "<h1>short heading</h1>" +
        s"<p>$good</p>" +
        s"<p>$noise</p>" +
        "<footer>contact us</footer></body></html>"
    // all-boilerplate page: every block link-dense -> nothing extracted
    val page2 = "<div><a href=\"/\">x</a></div><div><a href=\"/\">y</a></div>"
    // plain text, no tags at all: ONE block, classified by its own
    // features; with no definite neighbor a neargood block stays dropped
    val page3 = "the data is good and it is that good and the work " +
      "is done for all of them now"
    val d = Seq((1L, page1), (2L, page2), (3L, page3), (4L, ""))
      .toDF("doc_id", "html")
    val blocks = TextAnalysis.htmlExtractBlocks(d, lengthLow = 20,
      lengthHigh = 100, stopLow = 0.2, stopHigh = 0.4, maxLinkDensity = 0.3)

    val b1 = blocks.where(col("doc_id") === 1).orderBy("block_idx").collect()
    assert(b1.map(_.getAs[String]("block_text")).toSeq ==
      Seq("T", "Home Blog", "short heading", good, noise, "contact us"))
    assert(b1.map(_.getAs[String]("cls_free")).toSeq ==
      Seq("short", "bad", "short", "good", "bad", "short"))
    // context pass: the heading is rescued by the good paragraph AFTER
    // it; the title (next definite = link-dense nav) and the footer
    // (prev definite = the zz paragraph) both resolve bad
    assert(b1.map(_.getAs[String]("cls_final")).toSeq ==
      Seq("bad", "bad", "good", "good", "bad", "bad"))
    // link density measured on the RAW block: 8 anchor chars / 9 text
    assert(math.abs(b1(1).getAs[Double]("link_density") - 0.888889) < 1e-9)
    assert(b1(3).getAs[Double]("stop_frac") == 0.6)
    // script/style bodies are gone WITH their content, not just the tags
    assert(!blocks.collect().exists(
      _.getAs[String]("block_text").contains("alert")))

    val rollup = TextAnalysis.htmlExtractDocs(blocks).orderBy("doc_id")
      .collect()
    // the empty doc has no blocks and is absent (caller's drop decision)
    assert(rollup.map(_.getAs[Long]("doc_id")).toSeq == Seq(1L, 2L, 3L))
    val r1 = rollup(0)
    assert(r1.getAs[Long]("n_blocks") == 6 && r1.getAs[Long]("n_good") == 2)
    assert(r1.getAs[Long]("n_free_good") == 1 &&
      r1.getAs[Long]("n_short") == 3 && r1.getAs[Long]("n_neargood") == 0)
    assert(r1.getAs[String]("extracted_text") == "short heading\n" + good)
    assert(r1.getAs[Long]("extract_chars") ==
      ("short heading\n" + good).length.toLong)
    // all-boilerplate doc surfaces with n_good = 0 and an empty extract
    val r2 = rollup(1)
    assert(r2.getAs[Long]("n_good") == 0 &&
      r2.getAs[String]("extracted_text") == "")
    // the lone plain-text doc: one neargood block, no definite neighbor
    val b3 = blocks.where(col("doc_id") === 3).collect()
    assert(b3.length == 1 && b3(0).getAs[String]("cls_free") == "neargood" &&
      b3(0).getAs[String]("cls_final") == "bad")
  }

  test("htmlExtract: link density caps at 1.0 and cls ordering puts " +
      "link-dense before short") {
    // anchor text longer than the normalized block (nested markup inside
    // the anchor collapses differently) must cap, not exceed, 1.0; and a
    // 1-char link-dense block is bad (link rule first), not short
    val d = Seq((1L, "<div><a href=\"/\"><b>x</b></a></div>"))
      .toDF("doc_id", "html")
    val b = TextAnalysis.htmlExtractBlocks(d, lengthLow = 20,
      lengthHigh = 100, stopLow = 0.2, stopHigh = 0.4, maxLinkDensity = 0.3)
      .collect()
    assert(b.length == 1)
    assert(b(0).getAs[Double]("link_density") == 1.0)
    assert(b(0).getAs[String]("cls_free") == "bad")
  }

  // ------------------------------------------------------------- hygiene

  test("new ops leave no persisted blocks and no cartesian products") {
    // suites share the session sequentially; another suite may legitimately
    // have a live relation cache (e.g. exportModelRelation's vocabulary
    // pin) — assert OUR ops add nothing, not global emptiness
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val w = TextAnalysis.winnowFingerprints(docs, k = 3, w = 4)
    assertNoCartesian(w)
    w.count()
    val kb = Dedup.exactKeepBest(docs, length(col("text")))
    assertNoCartesian(kb)
    kb.count()
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.isEmpty, s"new ops persisted blocks: $added")
  }
}
