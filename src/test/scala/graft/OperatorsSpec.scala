package graft

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.{DedupOps, SimilarityOps}

class OperatorsSpec extends SparkSuite {
  import spark.implicits._

  lazy val docs = spark.read.parquet(s"$sfDir/documents.parquet").cache()
  lazy val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").cache()

  test("exact dedup groups identical normalized text") {
    val d = Seq((1L, "Hello  World"), (2L, "hello world"), (3L, "other"))
      .toDF("doc_id", "text")
    val r = DedupOps.exact(d).orderBy("keep_id").collect()
    assert(r.length === 2)
    assert(r(0).getLong(1) === 1L && r(0).getLong(2) === 2L) // 1+2 merged
  }

  test("shingles produce n-grams with short-text fallback") {
    val d = Seq(("a b c d", 1), ("a b", 2)).toDF("text", "id")
    val r = d.select(DedupOps.shingles(col("text"), 3).as("s"))
      .collect().map(_.getSeq[String](0).toSet)
    assert(r(0) === Set("a b c", "b c d"))
    assert(r(1) === Set("a b"))
  }

  test("ngram jaccard finds a planted near-duplicate pair") {
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again today"),
      (2L, "the quick brown fox jumps over the lazy dog again tomorrow"),
      (3L, "completely different text with nothing shared at all here"))
      .toDF("doc_id", "text")
    val pairs = DedupOps.ngramJaccardPairs(d, 3, 0.5).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet === Set((1L, 2L)))
  }

  test("clusters: min-id connected components over pair edges") {
    // component {1,2,3} via chain 1-2, 2-3; component {7,9}; 5 absent (no pair)
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("a", "b")
    val r = DedupOps.clusters(pairs).orderBy("id").collect()
      .map(x => (x.getLong(0), x.getLong(1)))
    assert(r.toSeq === Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (9L, 7L)))
  }

  test("clusters converge on a long path (pointer jumping, O(log d) rounds)") {
    // a 300-node path: naive propagation needs 300 rounds, maxIters=12 forces
    // the pointer-jumping acceleration to be doing its job (2^12 ≫ 300 hops
    // combined with neighbor-min, but 12 ≪ 300 plain rounds)
    val path = (0L until 299L).map(i => (i, i + 1)).toDF("a", "b")
    val r = DedupOps.clusters(path, maxIters = 12)
    assert(r.agg(max("cluster_id")).collect()(0).getLong(0) === 0L)
    assert(r.count() === 300)
  }

  test("clusters fails loudly when maxIters ends before the fixpoint") {
    // the 300-node path needs several pointer-jumping rounds: one round
    // leaves it split, which must not pass as an answer
    val path = (0L until 299L).map(i => (i, i + 1)).toDF("a", "b")
    val e = intercept[IllegalStateException](DedupOps.clusters(path, maxIters = 1))
    assert(e.getMessage.contains("maxIters=1"))
  }

  test("clusters/canonical on a clean corpus (zero pairs) return it unchanged") {
    // regression: the empty edge set used to NPE in the fixpoint checksum —
    // the COMMON case (no near-duplicates found) must be a clean no-op
    val d = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    val noPairs = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(DedupOps.clusters(noPairs).count() === 0)
    assert(DedupOps.canonical(d, noPairs).count() === 2)
  }

  test("clusters fails loudly on ids the long cast nulls — even PARTIALLY mixed") {
    // a mixed corpus ("abc" nulls, 123 survives) must error, not silently
    // drop the non-numeric doc from the labeling (sum/least absorb nulls)
    val mixed = Seq(("123", "abc"), ("123", "456")).toDF("a", "b")
    val e = intercept[IllegalArgumentException](DedupOps.clusters(mixed).count())
    assert(e.getMessage.contains("round-trip")) // non-numeric fails the round-trip guard first
    // NON-CANONICAL numeric strings are just as dangerous: '0042' casts to
    // 42, whose string form no longer matches the caller's id — canonical()
    // would miss the duplicate, and '42'/'0042' would collapse to one node
    val padded = Seq(("0042", "17"), ("42", "17")).toDF("a", "b")
    val e2 = intercept[IllegalArgumentException](DedupOps.clusters(padded).count())
    assert(e2.getMessage.contains("round-trip"))
    // canonical numeric STRINGS still work (round-trip holds)
    val strOk = Seq(("1", "2")).toDF("a", "b")
    assert(DedupOps.clusters(strOk).count() === 2)
  }

  test("canonical keeps cluster minima and singletons, drops the rest") {
    val d = Seq((1L, "x"), (2L, "x"), (3L, "x"), (5L, "alone"), (7L, "y"), (9L, "y"))
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("a", "b")
    val kept = DedupOps.canonical(d, pairs).select("doc_id")
      .collect().map(_.getLong(0)).sorted
    assert(kept.toSeq === Seq(1L, 5L, 7L))
  }

  test("decontamination flags any benchmark n-gram overlap; clean corpus is the complement") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"), // leaks a benchmark 3-gram
      (2L, "entirely original training text nothing shared here at all"),
      (3L, "quick brown fox appears here too"),            // same leaked 3-gram
      (4L, null.asInstanceOf[String]))                     // null text: passes through
      .toDF("doc_id", "text")
    val bench = Seq(
      (100L, "benchmark question about the quick brown fox answer"),
      (101L, "another eval item with its own unique phrasing"))
      .toDF("doc_id", "text")
    val hits = DedupOps.contaminated(corpus, bench, n = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits.keySet === Set(1L, 3L), s"got $hits")
    assert(hits(1L) >= 1L && hits(3L) >= 1L)
    val clean = DedupOps.decontaminate(corpus, bench, n = 3)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(clean.toSeq === Seq(2L, 4L),
      "clean corpus = corpus minus contaminated; null-text doc passes through")
  }

  test("minhash LSH recalls the exact-duplicate and near-dup pairs") {
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (3L, "unrelated words entirely disjoint from everything else here now"))
      .toDF("doc_id", "text")
    val pairs = DedupOps.minhashLshPairs(d, 3, bands = 4, rowsPerBand = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("simhash fast path never pairs null-text docs (family convention)") {
    // a null text would otherwise sign as the non-null 0L (per-bit
    // when/otherwise) and pair every null doc with every other at dist 0 —
    // fed to canonical(), that silently deletes all but one of them
    val d = Seq((1L, null.asInstanceOf[String]), (2L, null.asInstanceOf[String]),
      (3L, "real words in a document right here ok then"))
      .toDF("doc_id", "text")
    assert(DedupOps.simhashPairs(d, maxDist = 3).count() === 0L)
  }

  test("simhash: identical text → distance 0; near text → small distance") {
    val d = Seq(
      (1L, "one two three four five six seven eight nine ten"),
      (2L, "one two three four five six seven eight nine ten"),
      (3L, "zz yy xx ww vv uu tt ss rr qq"))
      .toDF("doc_id", "text")
    val pairs = DedupOps.simhashPairs(d, maxDist = 3).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      .contains((1L, 2L, 0)))
  }

  test("brute-force topk returns k neighbors ranked by cosine") {
    val q = emb.filter(col("vec_id") === 0)
    val r = SimilarityOps.bruteForceTopK(q, emb, 5).collect()
    assert(r.length === 5)
    val cosines = r.map(_.getDouble(2)).toSeq
    assert(cosines === cosines.sorted.reverse) // descending
    assert(!r.map(_.getLong(1)).contains(0L)) // self excluded
  }

  test("lshBucket literal plane matrix is bit-equal to the expression form") {
    import spark.implicits._
    // the production path projects against precomputed literal plane
    // vectors (planeComponentValue); the DuckDB oracle replays the
    // expression form (planeComponentExpr). They must agree on every bit,
    // or engine and oracle desync — exact double equality, no tolerance.
    for (seed <- Seq(7L, 42L); m <- Seq(0, 3, 62)) {
      val got = (0 until 256).toDF("d")
        .select(SimilarityOps.planeComponentExpr(m, col("d"), seed).as("v"))
        .collect().map(_.getDouble(0)).toSeq
      val want = (0 until 256).map(d => SimilarityOps.planeComponentValue(m, d, seed))
      assert(got === want, s"literal/expression divergence at seed=$seed m=$m")
    }
    // ...and an over-wide vector fails loudly instead of silently
    // projecting over a truncated plane
    val wide = Seq((1L, Array.fill(SimilarityOps.MaxPlaneDim + 1)(0.5f)))
      .toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      wide.select(SimilarityOps.lshBucket(col("embedding"), planes = 2)).collect()
    }
    assert(e.getMessage.contains("MaxPlaneDim") ||
      Option(e.getCause).exists(_.getMessage.contains("MaxPlaneDim")))
  }

  test("lsh topk candidates are a subset of brute-force scoring domain and bucket-consistent") {
    val q = emb.filter(col("vec_id") < 3)
    val r = SimilarityOps.lshTopK(q, emb, 5, planes = 4)
    // every (query, neighbor) pair shares the lsh bucket by construction
    assert(r.count() > 0)
    assert(r.filter(col("query_id") === col("neighbor_id")).count() === 0)
  }

  test("ivf topk: full-coverage probe equals brute force; partial probe is a subset") {
    val q = emb.filter(col("vec_id") < 3)
    // nprobe = nlist → every list probed → exact (must equal brute force)
    val full = SimilarityOps.ivfTopK(q, emb, 5, nlist = 8, nprobe = 8)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = SimilarityOps.bruteForceTopK(q, emb, 5)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full === brute)
    // partial probe: k results per query, no self-matches
    val part = SimilarityOps.ivfTopK(q, emb, 5, nlist = 8, nprobe = 2)
    assert(part.count() === 15)
    assert(part.filter(col("query_id") === col("neighbor_id")).count() === 0)
  }

  test("ivf k-means centroids: recall@k vs brute force reported, seeds never better") {
    val q = emb.filter(col("vec_id") < 20)
    def hits(df: org.apache.spark.sql.DataFrame) = df.select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = hits(SimilarityOps.bruteForceTopK(q, emb, 3))
    val seeded = hits(SimilarityOps.ivfTopK(q, emb, 3, nlist = 16, nprobe = 4, kmeansIters = 0))
    val kmeans = hits(SimilarityOps.ivfTopK(q, emb, 3, nlist = 16, nprobe = 4, kmeansIters = 2))
    val rSeed = seeded.intersect(exact).size.toDouble / exact.size
    val rKm = kmeans.intersect(exact).size.toDouble / exact.size
    info(f"ivf recall@3 probing 4/16 lists: seeded=$rSeed%.3f kmeans(2 iters)=$rKm%.3f")
    // trained centroids must not lose recall vs the degenerate seeds at the
    // same probe budget, and must stay a meaningful ANN (not collapse)
    assert(rKm >= rSeed - 1e-9)
    assert(rKm >= 0.5, f"ivf k-means recall collapsed: $rKm%.3f")
  }

  test("ivf training subsample: centroids from the hash sample only, full corpus assigned") {
    val mod = 2
    // training on the sample must equal full-training over the pre-filtered
    // corpus — proof the Lloyd iterations scan ONLY corpus/mod vectors
    val sampled = SimilarityOps.kmeansSums(emb, nlist = 8, iters = 2, trainSampleMod = mod)
    val manual = SimilarityOps.kmeansSums(
      emb.filter(SimilarityOps.trainSamplePredicate(col("vec_id"), mod)),
      nlist = 8, iters = 2)
    assert(sampled === manual)
    // the sample is a real subsample (roughly 1/mod of ids, not all, not none)
    val n = emb.count()
    val ns = emb.filter(SimilarityOps.trainSamplePredicate(col("vec_id"), mod)).count()
    assert(ns > 0 && ns < n && math.abs(ns.toDouble / n - 1.0 / mod) < 0.2)
    // the query path still assigns and probes over the FULL corpus: every
    // corpus vector lands in some inverted list (top-k results well-formed)
    val r = SimilarityOps.ivfTopK(emb.filter(col("vec_id") < 3), emb, k = 2,
      nlist = 8, nprobe = 8, kmeansIters = 1, trainSampleMod = mod)
    assert(r.groupBy("query_id").count().collect().forall(_.getLong(1) === 2))
  }

  test("ivf default trainSampleMod derives from corpus size (faiss ~256·nlist convention)") {
    // derivation rule: max(1, corpus / (256·nlist)), clamped to Int range
    assert(SimilarityOps.derivedTrainSampleMod(1000L, 16) === 1) // small → full corpus
    assert(SimilarityOps.derivedTrainSampleMod(256L * 16, 16) === 1)
    assert(SimilarityOps.derivedTrainSampleMod(256L * 16 * 10, 16) === 10)
    assert(SimilarityOps.derivedTrainSampleMod(1000000000L, 1024) === 3814)
    assert(SimilarityOps.derivedTrainSampleMod(Long.MaxValue, 1) === Int.MaxValue)
    // the auto default (0) resolves to the derived mod — identical results
    val q = emb.filter(col("vec_id") < 3)
    val auto = SimilarityOps.ivfTopK(q, emb, 3, nlist = 8, nprobe = 4, kmeansIters = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val explicit = SimilarityOps.ivfTopK(q, emb, 3, nlist = 8, nprobe = 4, kmeansIters = 1,
        trainSampleMod = SimilarityOps.derivedTrainSampleMod(emb.count(), 8))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto === explicit)
  }

  test("simhash band partition is lossless at every maxDist (pigeonhole, incl. non-divisors of 64)") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    for (maxDist <- Seq(1, 3, 8, 16, 32, 63)) {
      val x = rnd.nextLong()
      // flip exactly maxDist bits spread evenly — the adversarial layout
      // that defeated the old ceil-width banding (its last band was empty
      // whenever maxDist+1 did not divide 64, so recall < 1 at exactly the
      // advertised distance)
      val positions = (0 until maxDist).map(i => i * 64 / maxDist)
      assert(positions.distinct.size === maxDist)
      val y = positions.foldLeft(x)((v, b) => v ^ (1L << b))
      val row = Seq((x, y)).toDF("sx", "sy")
        .select(DedupOps.sigBands(col("sx"), maxDist).as("bx"),
          DedupOps.sigBands(col("sy"), maxDist).as("by"))
        .collect()(0)
      val bx = row.getSeq[Long](0)
      val by = row.getSeq[Long](1)
      assert(bx.length === maxDist + 1)
      assert(bx.zip(by).exists { case (a, b) => a == b },
        s"maxDist=$maxDist: signatures at distance $maxDist share no band — recall hole")
    }
    intercept[IllegalArgumentException] {
      DedupOps.sigBands(lit(0L), 64)
    }
  }

  test("pii redaction: emails, ips, phones; pattern order") {
    val d = Seq("mail bob.smith+x@ex.co.uk, ip 10.0.3.77, call 555-1234 or +441234567890 end")
      .toDF("text")
    val r = d.select(TextFunctions.redactPii(col("text"))).collect()(0).getString(0)
    assert(r === "mail <EMAIL>, ip <IP>, call <PHONE> or <PHONE> end")
    // standard 10-digit US formats redact WHOLE (area code must not leak)
    val d2 = Seq("call 555-123-4567 or (555) 123-4567 or 5551234567 done")
      .toDF("text")
    val r2 = d2.select(TextFunctions.redactPii(col("text"))).collect()(0).getString(0)
    assert(r2 === "call <PHONE> or <PHONE> or <PHONE> done")
  }

  test("line dedup keeps first occurrence, preserves order") {
    val d = Seq("h\na\nh\nb\na\nEOF").toDF("text")
    assert(d.select(TextFunctions.dedupLines(col("text"))).collect()(0).getString(0)
      === "h\na\nb\nEOF")
  }

  test("cosine matches a hand-computed value") {
    val d = Seq((Array(1.0f, 0.0f), Array(1.0f, 1.0f))).toDF("a", "b")
    val c = d.select(SimilarityOps.cosine(col("a"), col("b"))).collect()(0).getDouble(0)
    assert(math.abs(c - 1.0 / math.sqrt(2)) < 1e-12)
  }

  test("token counts, quality, fingerprint, langid are deterministic and sane") {
    val d = Seq((1L, "The quick brown fox and the lazy dog of the day"),
      (2L, ""), (3L, "el perro que la casa es de la nina"))
      .toDF("doc_id", "text")
    val r = d.select(col("doc_id"),
      TextFunctions.tokenCount(col("text")).as("n"),
      TextFunctions.langId(col("text")).as("lang"),
      TextFunctions.fingerprint(col("text")).as("fp"))
      .orderBy("doc_id").collect()
    assert(r(0).getLong(1) === 11 && r(0).getString(2) === "en")
    assert(r(1).getLong(1) === 0 && r(1).getString(2) === "und")
    assert(r(2).getString(2) === "es")
    assert(r(0).getString(3).length === 64)
  }

  test("repetition ratio: repeated phrases score high, unique text scores 0") {
    val d = Seq(
      (1L, "buy now buy now buy now buy now"),       // spammy: "buy now"/"now buy" repeat
      (2L, "each word appears exactly once here"),   // all 2-grams unique
      (3L, "single"))                                 // < n tokens: one gram, 0
      .toDF("doc_id", "text")
    val r = d.select(col("doc_id"),
      TextFunctions.repetitionRatio(col("text"), 2).as("rep"))
      .orderBy("doc_id").collect()
    // 7 bigrams, 2 distinct ("buy now" ×4, "now buy" ×3) → 1 - 2/7
    assert(math.abs(r(0).getDouble(1) - (1.0 - 2.0 / 7.0)) < 1e-12)
    assert(r(1).getDouble(1) === 0.0)
    assert(r(2).getDouble(1) === 0.0)
  }

  test("length() counts Unicode code points — pins Spark/DuckDB parity for text gates") {
    // the text_stats/text_quality oracles pair Spark length() with DuckDB
    // length(); both count CODE POINTS (Spark: UTF8String.numChars over the
    // UTF-8 bytes, NOT java.lang.String UTF-16 units), so a supplementary-
    // plane char (here U+1F600, a surrogate PAIR in the JVM string) counts 1.
    // If Spark ever counted UTF-16 units this would read 4 and the gates
    // would silently hold only for ASCII fixtures.
    val n = Seq("a😀b").toDF("t")
      .select(length(col("t"))).collect()(0).getInt(0)
    assert(n === 3)
  }

  test("bpe-ish token count: letter/digit/punct runs, whitespace never counted") {
    def n(s: String) =
      Seq(s).toDF("text").select(TextFunctions.bpeTokenCount(col("text")))
        .collect()(0).getLong(0)
    assert(n("hello, world42!") === 5) // hello , world 42 !
    assert(n("hello world") === 2) // the space is NOT a token
    assert(n("wow!!!") === 2) // punctuation RUN counts once
    assert(n("") === 0)
    // NULL text stays NULL (like tokenCount) — a length filter must not
    // treat a missing document as an empty one
    val nul = Seq(Option.empty[String]).toDF("text")
      .select(TextFunctions.bpeTokenCount(col("text")),
        TextFunctions.tokenCount(col("text"))).collect()(0)
    assert(nul.isNullAt(0) && nul.isNullAt(1))
  }

  test("langid on the documents corpus never returns null and covers 'und'") {
    val r = docs.select(TextFunctions.langId(col("text")).as("l"))
      .groupBy("l").count().collect()
    assert(r.forall(_.getString(0) != null))
    // NULL text → NULL prediction (a missing doc has no language), NOT the
    // last profile's code — and the empty string is 'und', not null
    import docs.sparkSession.implicits._
    val edge = Seq((1, null: String), (2, ""), (3, "zzz qqq")).toDF("i", "text")
      .select(col("i"), TextFunctions.langId(col("text")).as("l")).collect()
      .map(r => r.getInt(0) -> (if (r.isNullAt(1)) null else r.getString(1))).toMap
    assert(edge(1) == null && edge(2) == "und" && edge(3) == "und")
  }

  test("exact dedup never folds null-text docs into one duplicate class") {
    import docs.sparkSession.implicits._
    val d = Seq((1L, "same text"), (2L, "same text"), (3L, null: String),
      (4L, null: String)).toDF("doc_id", "text")
    val r = DedupOps.exact(d).collect()
    // one class for the real duplicates; the null-text docs are EXCLUDED
    // (missing ≠ equal), so no class ever claims doc 3 or 4 as duplicates
    assert(r.length === 1 && r(0).getLong(1) === 1L && r(0).getLong(2) === 2L)
  }

  test("langid classifies planted multilingual docs across all 7 profiles") {
    val planted = Seq(
      ("en", "this is the story of a fox that ran from the dogs and hid in the barn when it was dark"),
      ("es", "el perro corre por la casa y se esconde bajo la mesa para que no lo vean los gatos"),
      ("fr", "le chien court dans la maison et se cache sous la table pour que les chats ne le voient pas"),
      ("de", "der hund lauft durch das haus und versteckt sich unter dem tisch damit die katzen ihn nicht sehen"),
      ("it", "il cane corre per la casa e si nasconde sotto il tavolo per non farsi vedere dai gatti"),
      ("pt", "o cachorro corre pela casa e se esconde embaixo da mesa para que os gatos nao o vejam"),
      ("nl", "de hond rent door het huis en verstopt zich onder de tafel zodat de katten hem niet zien"))
      .toDF("expected", "text")
    val got = planted.select(col("expected"),
      TextFunctions.langId(col("text")).as("pred")).collect()
    got.foreach(r => assert(r.getString(1) === r.getString(0),
      s"expected ${r.getString(0)}"))
    // pluggable profile map: a custom two-language map narrows the argmax
    val custom = Map(
      "en" -> TextFunctions.langMarkers("en"),
      "de" -> TextFunctions.langMarkers("de"))
    val c = planted.filter(col("expected").isin("en", "de"))
      .select(col("expected"), TextFunctions.langId(col("text"), custom).as("pred"))
      .collect()
    c.foreach(r => assert(r.getString(1) === r.getString(0)))
  }
}
