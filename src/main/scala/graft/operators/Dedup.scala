package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Document-level deduplication operators for training-data pipelines, each
  * designed around one shuffle family:
  *
  *  - exact / fingerprint dedup: one hash aggregation (map-side combined);
  *  - shingle-based (n-gram Jaccard, MinHash-LSH, SimHash): inverted-index
  *    self-joins on a *bounded* bucket key, never an all-pairs product —
  *    the property that keeps them viable at 10^9 documents.
  *
  * All hashing on the oracle-checked paths uses md5/sha2 hex strings (present
  * and bit-identical in both Spark and standard SQL engines); the
  * Spark-only fast paths use xxhash64 (codegen'd, no string materialization).
  */
object DedupOps {

  /** Exact dedup on a canonical fingerprint: one row per distinct normalized
    * text, keeping the smallest id; `dup_count` sizes each duplicate class.
    * NULL-text documents are excluded — missing texts are not EQUAL texts
    * (groupBy would otherwise fold every null-text doc in the corpus into
    * one giant "duplicate class" under the NULL fingerprint, and a consumer
    * dropping non-keep ids would delete all but one of them). Same
    * convention as the near-dup operators, which never pair null docs.
    */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs
      .filter(col(textCol).isNotNull)
      .groupBy(TextFunctions.fingerprint(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Word n-gram shingles of `text` as an array column (distinct).
    *
    * The token array is BOUND once ([[TextFunctions.bindOnce]]): the naive
    * form referenced the `split` subtree n times per gram inside the
    * transform lambda (plus the size/singleton references), and interpreted
    * HOF evaluation re-computes captured subtrees per element — the full
    * document was re-split PER GRAM, quadratic in document length
    * (measured 4× tokens → 14.8× wall before the fix). Token values,
    * gram construction and distinct-ness are unchanged. */
  def shingles(text: Column, n: Int): Column =
    TextFunctions.bindOnce(split(trim(text), "\\s+")) { toks =>
      val k = size(toks) - (n - 1)
      // i-th shingle = tokens[i..i+n): build via transform over index range
      array_distinct(
        when(k <= 0, array(concat_ws(" ", toks)))
          .otherwise(transform(sequence(lit(0), k - 1),
            i => concat_ws(" ", (0 until n).map(j => toks.getItem(i + j)): _*))))
    }

  /** All candidate pairs (a < b) sharing ≥1 shingle, with exact Jaccard
    * similarity over distinct n-gram shingles, filtered at `threshold`.
    *
    * Plan shape: explode → self-equi-join on the shingle (inverted index),
    * count shared shingles per pair, join per-doc shingle counts (shuffle
    * joins on `id` — NOT a broadcast hint: `sizes` is one row per document,
    * so at 10⁹ docs a forced broadcast is a driver collect of the whole id
    * space; AQE broadcasts it when it actually fits). The only big shuffle
    * is the shingle-keyed join; no cartesian product ever forms.
    *
    * @param dfCap drop shingles appearing in more than `dfCap` documents
    *        before pairing (≤0 = keep all — an explicit opt-OUT; the default
    *        is a finite 1000). A boilerplate shingle shared by `df` documents
    *        expands to O(df²) candidate rows — one hot license header across
    *        10⁶ files is a 10¹²-row join blowup, so the uncapped plan must be
    *        a deliberate choice, never the default. The cap bounds each
    *        shingle's contribution to dfCap² at a known recall cost: only
    *        pairs whose EVERY shared shingle is boilerplate are missed, and
    *        those pairs' similarity is all boilerplate anyway. Jaccard is
    *        computed over the CAPPED shingle universe CONSISTENTLY —
    *        intersections and per-doc counts both exclude hot shingles (the
    *        stopword-removal convention: boilerplate neither inflates nor,
    *        as a mixed inter-capped/denominator-uncapped formula silently
    *        did, deflates the similarity of informative content — that mix
    *        understated every pair sharing a hot shingle plus real overlap
    *        and dropped true near-dups at the threshold boundary). The
    *        hot-shingle set is
    *        computed with a map-side-combined groupBy (one small aggregate —
    *        boilerplate shingles are few) and removed with an anti-join AQE
    *        can broadcast; a window-over-the-shingle-stream DF count would
    *        re-shuffle the whole exploded stream and serialize each hot
    *        shingle into a single task.
    */
  def ngramJaccardPairs(docs: DataFrame, n: Int, threshold: Double,
      idCol: String = "doc_id", textCol: String = "text",
      dfCap: Int = 1000): DataFrame = {
    val sh = docs.select(col(idCol).as("id"),
      explode(shingles(col(textCol), n)).as("sh"))
    val paired =
      if (dfCap <= 0) sh
      else {
        val hot = sh.groupBy("sh").agg(count(lit(1)).as("_df"))
          .filter(col("_df") > dfCap).select("sh")
        sh.join(hot, Seq("sh"), "left_anti")
      }
    // per-doc counts over the SAME (capped) universe as the intersections.
    // DELIBERATE recompute: `paired` feeds three consumers (sizes, both
    // self-join sides) and `hot` re-derives the shingle stream — a persist
    // here would pin the exploded shingle set (≫ corpus size) in the cache
    // for the caller's whole plan lifetime, and this function returns a
    // lazy frame whose execution it cannot bracket with an unpersist.
    // ReuseExchange dedups the two identical sh-keyed join shuffles; the
    // scan+explode re-runs are cheap codegen'd passes. Callers batching
    // many invocations can persist the INPUT `docs` instead.
    val sizes = paired.groupBy("id").agg(count(lit(1)).as("n_sh"))
    val shared = paired.as("l").join(paired.as("r"),
        col("l.sh") === col("r.sh") && col("l.id") < col("r.id"))
      .groupBy(col("l.id").as("a"), col("r.id").as("b"))
      .agg(count(lit(1)).as("inter"))
    shared
      .join(sizes.withColumnRenamed("id", "a").withColumnRenamed("n_sh", "na"), "a")
      .join(sizes.withColumnRenamed("id", "b").withColumnRenamed("n_sh", "nb"), "b")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))
  }

  /** MinHash signatures as `numHashes` lexicographic-min md5 hex strings of
    * salted shingles, computed per-ROW with `aggregate` folds over the
    * materialized shingle array — a pure map-side projection: NO explode, NO
    * shuffle, NO aggregation machinery. The round-5 explode + groupBy(id)
    * shape planned as Sort → SortAggregate → Exchange → Sort →
    * SortAggregate (min over a STRING buffer is not hash-aggregable —
    * HashAggregateExec needs mutable fixed-width buffers), i.e. two sorts of
    * the full exploded shingle stream plus a shuffle, per invocation; the
    * fold keeps the identical md5-per-(salt, distinct shingle) work (the
    * min fold is `least`, the same binary string comparison) while every
    * row stays where it was scanned. The shingle array is projected ONCE
    * below the folds (CollapseProject keeps expensive multi-referenced
    * aliases un-inlined), and the fold carries no intermediate arrays, so a
    * 10^5-shingle document costs exactly its md5 evaluations. The all-'f'
    * zero value is the maximum possible md5 hex string, so it never beats a
    * real hash (and equals the min iff a shingle actually hashes to it).
    * Null-text documents are dropped — same rows as the explode form, which
    * produced no shingle rows for them. Using the hex string itself as the
    * hash value keeps the signature reproducible in any engine with md5
    * (the DuckDB oracle), with identical collision behavior to integer
    * minhash. Returns (id, m0..m{k-1}).
    */
  def minhashSignatures(docs: DataFrame, n: Int, numHashes: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(n >= 1 && numHashes >= 1,
      s"minhash needs n >= 1 and numHashes >= 1 (got n=$n, numHashes=$numHashes)")
    val maxMd5 = "f" * 32
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"), shingles(col(textCol), n).as("_sh"))
      .select(col("id") +: (0 until numHashes).map(i =>
        aggregate(col("_sh"), lit(maxMd5),
          (acc, s) => least(acc, md5(concat(lit(s"$i#"), s)))).as(s"m$i")): _*)
  }

  /** MinHash + LSH near-dup candidates: signatures banded into
    * `bands` groups of `rowsPerBand`; docs agreeing on any whole band are
    * paired. Probability of pairing ≈ 1-(1-j^r)^b for Jaccard j. Returns
    * distinct (a, b) candidate pairs, a < b.
    *
    * Scale path: the join key is (band index, band value) — band values
    * concentrate only truly-similar docs, so bucket sizes stay small and the
    * shuffle is O(docs × bands), not O(docs²).
    */
  def minhashLshPairs(docs: DataFrame, n: Int, bands: Int, rowsPerBand: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // a degenerate band layout (a miscomputed config) would otherwise band
    // into an empty array and return ZERO pairs — silent recall 0, the same
    // misuse class lshBucket/sigBands already require() against
    require(bands >= 1 && rowsPerBand >= 1,
      s"LSH needs bands >= 1 and rowsPerBand >= 1 (got $bands, $rowsPerBand)")
    val numHashes = bands * rowsPerBand
    val withSig = minhashSignatures(docs, n, numHashes, idCol, textCol)
    val banded = withSig.select(col("id"), posexplode(
      array((0 until bands).map(b =>
        concat_ws("|", (0 until rowsPerBand).map(r =>
          col(s"m${b * rowsPerBand + r}")): _*)): _*)).as(Seq("band", "bv")))
    // SHUFFLE_HASH, not the planner's default: size estimates put one side
    // of this self-join under the broadcast threshold, and a broadcast
    // re-computes the ENTIRE signature subplan for that side (the two sides
    // are different exchange types, so nothing is reusable) — every md5
    // twice. Hashed both sides, the two (band, bv) exchanges are
    // canonically identical and ReuseExchange computes the signatures ONCE;
    // this is also precisely the documented scale shape (shuffle
    // O(docs × bands)), where a corpus-sized build could never broadcast.
    banded.as("l").join(banded.as("r").hint("shuffle_hash"),
        col("l.band") === col("r.band") && col("l.bv") === col("r.bv") &&
          col("l.id") < col("r.id"))
      .select(col("l.id").as("a"), col("r.id").as("b"))
      .distinct()
  }

  /** 64-bit SimHash over whitespace tokens using xxhash64 (Spark-native fast
    * path; no portable-SQL oracle — verified by property tests instead).
    * Each token votes its hash bits; the sign of each bit-sum forms the
    * signature. Near-dups = signatures within small Hamming distance.
    */
  def simhash(text: Column): Column =
    // hash each token ONCE: the hashed array is BOUND as a lambda variable
    // ([[TextFunctions.bindOnce]]) before the 64 per-bit vote aggregates
    // read it (shift/mask only per element). A plain `val hashes` Column
    // referenced by 64 aggregates would inline — and re-evaluate — the
    // split+hash of the whole document 64 times per row (the same
    // duplication [[shingles]] had; nothing eliminates common subtrees in
    // interpreted HOF eval): a 1,000-token doc would pay 64,000 hash
    // evaluations instead of 1,000.
    TextFunctions.bindOnce(
      transform(split(trim(text), "\\s+"), t => xxhash64(t))) { hashes =>
      val bitSum = (b: Int) => aggregate(hashes, lit(0L), (acc, h) =>
        acc + when(shiftright(h, b).bitwiseAND(1) === 1, 1L).otherwise(-1L))
      (0 until 64).map(b =>
        when(bitSum(b) > 0, shiftleft(lit(1L), b)).otherwise(lit(0L)))
        .reduce((a, b) => a.bitwiseOR(b))
    }

  /** Contiguous bit-range bands of a 64-bit signature sized so band blocking
    * is LOSSLESS at Hamming distance ≤ `maxDist` (requires maxDist ≤ 63):
    * with `maxDist + 1` bands PARTITIONING all 64 bits, two signatures within
    * distance maxDist cannot differ in every band (pigeonhole), so they share
    * at least one band value — recall is 1.0, not probabilistic.
    *
    * The partition uses EXACT integer bounds (band i covers bits
    * [i·64/bands, (i+1)·64/bands)) so every band is non-empty. A
    * ceil-width layout silently broke the guarantee whenever bands did not
    * divide 64 (maxDist = 8, 16, 32 …): its last band started at bit 64,
    * and shiftright(sig, 64) is shiftright(sig, 0) on the JVM — a band that
    * only ever matched identical signatures, leaving maxDist+1 claimed bands
    * but only maxDist real ones, i.e. recall < 1 exactly at the advertised
    * distance. */
  private[graft] def sigBands(sig: Column, maxDist: Int): Column = {
    require(maxDist >= 0 && maxDist <= 63,
      s"simhash band blocking is lossless only for maxDist in [0, 63], got $maxDist")
    val bands = maxDist + 1
    array((0 until bands).map { i =>
      val lo = i * 64 / bands
      val hi = (i + 1) * 64 / bands
      val shifted = shiftright(sig, lo)
      if (hi >= 64) shifted else shifted.bitwiseAND((1L << (hi - lo)) - 1)
    }: _*)
  }

  /** SimHash near-dup candidates within Hamming distance `maxDist`:
    * pigeonhole band blocking (maxDist+1 bands — see [[sigBands]], a
    * guaranteed-recall candidate join), then exact popcount filter.
    */
  def simhashPairs(docs: DataFrame, maxDist: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    simhashPairsOf(
      // drop null-text docs BEFORE signing: [[simhash]]'s per-bit
      // when/otherwise turns a null text into the non-null signature 0, and
      // unchecked that pairs every null-text doc with every other at
      // distance 0 (fed to [[canonical]], that silently deletes all but one
      // of them) — the family convention is null docs never pair, and the
      // portable variant already drops them via its explode
      docs.filter(col(textCol).isNotNull)
        .select(col(idCol).as("id"), simhash(col(textCol)).as("sig")), maxDist)

  private def simhashPairsOf(sigs: DataFrame, maxDist: Int): DataFrame = {
    val banded = sigs.select(col("id"), col("sig"),
      posexplode(sigBands(col("sig"), maxDist)).as(Seq("band", "bv")))
    // shuffle_hash: a broadcast of one self-join side would re-run the whole
    // signature subplan for it; hashed both sides ReuseExchange computes the
    // signatures once (same rationale as [[minhashLshPairs]])
    banded.as("l").join(banded.as("r").hint("shuffle_hash"),
        col("l.band") === col("r.band") && col("l.bv") === col("r.bv") &&
          col("l.id") < col("r.id"))
      .select(col("l.id").as("a"), col("r.id").as("b"),
        col("l.sig").as("sa"), col("r.sig").as("sb"))
      .distinct()
      .withColumn("dist", bit_count(col("sa").bitwiseXOR(col("sb"))))
      .filter(col("dist") <= maxDist)
      .select("a", "b", "dist")
  }

  /** Portable-hash SimHash signatures: per-token md5, bit b of the first 64
    * signature bits read from hex digit b/4 (bit b%4 of its value) — md5 hex
    * is bit-identical in every engine, so a standard-SQL oracle reproduces
    * the signature exactly (the xxhash64 [[simhash]] stays the Spark-native
    * fast path). One explode + one 64-column primitive sum aggregation:
    * map-side combine, whole-stage codegen, no per-doc array materialization.
    */
  def simhashSignaturesPortable(docs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val toks = docs.select(col(idCol).as("id"),
      explode(split(trim(col(textCol)), "\\s+")).as("tok"))
      .withColumn("h", md5(col("tok")))
    val digitVal = (i: Int) => // hex digit i (0-based) as 0..15, lowercase md5
      expr(s"locate(substring(h, ${i + 1}, 1), '0123456789abcdef') - 1")
    val sums = toks.groupBy("id").agg(
      bitVote(digitVal(0), 0).as("b0"),
      (1 until 64).map(b => bitVote(digitVal(b / 4), b % 4).as(s"b$b")): _*)
    val sig = (0 until 64).map(b =>
      when(col(s"b$b") > 0, shiftleft(lit(1L), b)).otherwise(lit(0L)))
      .reduce((a, b) => a.bitwiseOR(b))
    sums.select(col("id"), sig.as("sig"))
  }

  /** ±1 vote of bit `bit` of hex-digit value `dig`, summed per group. */
  private def bitVote(dig: Column, bit: Int): Column =
    sum(when(shiftright(dig.cast("long"), bit).bitwiseAND(1L) === 1L, 1L)
      .otherwise(-1L))

  /** [[simhashPairs]] over the portable md5-bit signature — the
    * oracle-checked variant. */
  def simhashPairsPortable(docs: DataFrame, maxDist: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    simhashPairsOf(simhashSignaturesPortable(docs, idCol, textCol), maxDist)

  /** Benchmark decontamination — the training-corpus hygiene pass run
    * before every serious LLM training job: documents sharing ANY word
    * n-gram with an evaluation set are flagged, so benchmark text cannot
    * leak into training (the published GPT-3/PaLM 13-gram overlap rule,
    * with `n` parameterized). Returns `(idCol, hits)` — one row per
    * contaminated corpus document with its count of distinct overlapping
    * shingles; [[decontaminate]] is the anti-joined clean corpus.
    *
    * Scale shape: the benchmark's DISTINCT shingle set is aggregated once
    * (eval sets are typically thousands of documents — tiny next to a
    * 100 TB corpus), the corpus's exploded shingles join it shingle-keyed
    * (inverted index — never a cartesian), and the hit counts aggregate
    * map-side. No broadcast hint: AQE broadcasts the benchmark side when
    * it actually fits, and a pathological giant "benchmark" still plans.
    */
  def contaminated(corpus: DataFrame, benchmark: DataFrame, n: Int,
      idCol: String = "doc_id", textCol: String = "text",
      benchTextCol: String = "text"): DataFrame = {
    val benchShingles = benchmark
      .filter(col(benchTextCol).isNotNull)
      .select(explode(shingles(col(benchTextCol), n)).as("sh"))
      .distinct()
    corpus
      .filter(col(textCol).isNotNull)
      .select(col(idCol), explode(shingles(col(textCol), n)).as("sh"))
      .join(benchShingles, "sh")
      .groupBy(idCol)
      .agg(countDistinct("sh").as("hits"))
  }

  /** The clean corpus: every document with zero benchmark n-gram overlap
    * (all original columns; null-text documents pass through — they cannot
    * contaminate). One anti-join on the id — the corpus is never shuffled
    * by content. */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame, n: Int,
      idCol: String = "doc_id", textCol: String = "text",
      benchTextCol: String = "text"): DataFrame =
    corpus.join(
      contaminated(corpus, benchmark, n, idCol, textCol, benchTextCol)
        .select(col(idCol)),
      Seq(idCol), "left_anti")

  /** The end-to-end dedup step: drop every document that belongs to a
    * duplicate cluster but is not its canonical (min-id) member. Singleton
    * documents (no candidate pair) pass through untouched — [[clusters]]
    * only emits paired ids, so the left anti-join against the non-canonical
    * member set is the whole operation: one broadcast-friendly join over
    * the (small) duplicate-member list, no shuffle of the corpus by content.
    */
  def canonical(docs: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id"): DataFrame = {
    // cast the LONG cluster ids back to the caller's id type BEFORE the
    // anti-join: joining long against (say) a string id column would coerce
    // both sides (to double under legacy mode — ids above 2^53 collide and
    // silently drop non-duplicate docs); an exact same-type equality cannot
    val idType = docs.schema(docs.schema.fieldIndex(idCol)).dataType
    val losers = clusters(pairs)
      .filter(col("id") =!= col("cluster_id"))
      .select(col("id").cast(idType).as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** Candidate pairs → duplicate CLUSTERS: connected components over the
    * pair edges, labeling every member with the minimum doc id of its
    * component (`cluster_id`) — the terminal step every near-dup operator
    * above feeds: one canonical document (the min id, matching [[exact]]'s
    * `keep_id` convention) survives per cluster, the rest are dropped.
    *
    * Algorithm: iterative min-label propagation over DataFrame joins — no
    * GraphX, no RDDs. Each round does (1) a neighbor-min step (labels flow
    * across edges) and (2) a pointer-jumping step (label := label of label),
    * so label chains halve every round and convergence is O(log diameter)
    * rounds, not O(diameter) — a 10⁶-long similarity chain resolves in ~20
    * rounds. Each round is two shuffle joins on the id; edges are persisted
    * once (2|pairs| rows), labels persist one generation at a time. The
    * fixpoint test rides the same pass as the label computation (labels only
    * ever decrease, so an unchanged monotone checksum ⇔ fixpoint — no
    * row-diff join).
    *
    * Output: (id, cluster_id) for every doc appearing in ≥1 pair; docs with
    * no candidate pair are their own cluster and are simply absent (join
    * docs with "left" and coalesce to the doc's own id to materialize them).
    *
    * Cache lifetime: the returned labeling is backed by the FINAL
    * generation's persisted RDD (that persistence is what truncates the
    * per-round plan growth). It cannot be unpersisted here — the caller has
    * not consumed it yet — and is released by Spark's ContextCleaner once
    * the result is no longer referenced; a driver looping over many corpora
    * should drop its reference between iterations.
    */
  def clusters(pairs: DataFrame, aCol: String = "a", bCol: String = "b",
      maxIters: Int = 50): DataFrame = {
    // try_cast, not cast: under ANSI (the Spark 4 default) a plain cast
    // aborts mid-job on the first non-numeric id with a generic cast error;
    // with ANSI off it nulls silently. try_cast nulls on BOTH settings, so
    // every corpus reaches the explicit null check below and its actionable
    // "hash your ids first" error
    def asLong(c: String) = expr(s"try_cast(`$c` AS LONG)")
    // …and the cast must ROUND-TRIP: a non-canonical numeric string like
    // '0042' casts to 42 whose string form '42' no longer matches the
    // caller's id — canonical()'s anti-join would then miss the duplicate
    // entirely, and distinct ids '42'/'0042' would collapse to ONE node,
    // merging unrelated components. Same rule as the lake's bucketOf guard.
    def roundTrips(c: String) = pairs.schema(pairs.schema.fieldIndex(c)).dataType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType => lit(true)
      case dt => asLong(c).cast(dt) <=> col(c)
    }
    val nonCanonical = pairs
      .filter(!roundTrips(aCol) || !roundTrips(bCol)).limit(1).count()
    if (nonCanonical > 0) throw new IllegalArgumentException(
      "clusters() ids must round-trip through LONG (e.g. '0042' does not) — " +
      "hash non-canonical ids first, e.g. xxhash64(id), and keep a " +
      "(hash → id) mapping for the canonical join")
    val edges = pairs.select(asLong(aCol).as("x"), asLong(bCol).as("y"))
      .union(pairs.select(asLong(bCol).as("x"), asLong(aCol).as("y")))
      .distinct()
      .persist()
    // ids must survive the long cast: a PARTIALLY non-numeric corpus (say
    // mixed numeric and UUID ids) nulls only some endpoints, and null-tolerant
    // aggregates (sum skips nulls, least absorbs them) would then silently
    // drop those docs from the labeling instead of failing — so count null
    // endpoints explicitly before the loop
    val nullEdges = edges.filter(col("x").isNull || col("y").isNull).limit(1).count()
    if (nullEdges > 0) {
      edges.unpersist()
      throw new IllegalArgumentException(
        "clusters() requires doc ids castable to LONG (string/UUID ids cast " +
        "to null) — hash non-numeric ids first, e.g. xxhash64(id), and keep " +
        "a (hash → id) mapping for the canonical join")
    }
    // a clean corpus (zero candidate pairs) is the COMMON case: return the
    // empty labeling up front — the checksum below would otherwise read a
    // null sum and the fixpoint compare would NPE
    if (edges.isEmpty) {
      edges.unpersist()
      return pairs.sparkSession.createDataFrame(
        pairs.sparkSession.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("cluster_id", org.apache.spark.sql.types.LongType))))
    }
    // every round joins the label set against itself TWICE, so without
    // truncation the logical plan doubles per round (2^rounds nodes: analyzer
    // and codegen die long before the data does). Each generation is
    // materialized through an explicitly persisted RDD + createDataFrame
    // (plan truncated to one LogicalRDD scan) instead of localCheckpoint:
    // unpersist() does NOT free localCheckpoint blocks (checkpoint RDDs are
    // only released when the ContextCleaner GCs the RDD), so block-manager
    // storage grew with round count on large graphs — here the previous
    // generation's RDD is unpersisted deterministically each round.
    val spark = pairs.sparkSession
    def materialize(df: DataFrame): (DataFrame, org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]) = {
      val rdd = df.rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      (spark.createDataFrame(rdd, df.schema), rdd) // lazy; checksum() forces it
    }
    var (labels, labelsRdd) = materialize(
      edges.groupBy("x").agg(min(col("y")).as("mn"))
        .select(col("x"), least(col("x"), col("mn")).as("lbl")))
    // monotone checksum: labels only decrease, so equal sums ⇔ no change.
    // The upfront null-endpoint check guarantees a non-null sum here.
    def checksum(l: DataFrame): java.math.BigDecimal =
      l.agg(sum(col("lbl").cast("decimal(38,0)"))).collect()(0).getDecimal(0)
    var prev = checksum(labels)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIters) {
      // (1) neighbor-min: each node adopts the smallest label among itself
      // and its neighbors
      val nbr = edges.join(labels.withColumnRenamed("x", "y"), "y")
        .groupBy("x").agg(min(col("lbl")).as("nlbl"))
      // materialized: the jump self-join below consumes `stepped` TWICE, and
      // an unmaterialized plan would re-run the neighbor-min join+agg for
      // each side (ReuseExchange dedups only the shuffle, not the
      // post-shuffle work) — 2x the per-round cost on a 10^9-edge graph
      val (stepped, steppedRdd) = materialize(labels.join(nbr, Seq("x"), "left")
        .select(col("x"), least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl")))
      // (2) pointer jumping: follow the label one hop (label of my label),
      // halving chain length every round
      val (jumped, jumpedRdd) = materialize(stepped.as("s")
        .join(stepped.select(col("x").as("jx"), col("lbl").as("jlbl")),
          col("s.lbl") === col("jx"), "left")
        .select(col("s.x").as("x"), least(col("s.lbl"), coalesce(col("jlbl"), col("s.lbl"))).as("lbl")))
      val cur = checksum(jumped) // forces jumpedRdd — the old generation is read
      labelsRdd.unpersist(blocking = false) // exactly once above, then freed here
      steppedRdd.unpersist(blocking = false) // both jump consumers have run
      labels = jumped
      labelsRdd = jumpedRdd
      converged = cur.compareTo(prev) == 0
      prev = cur
      iter += 1
    }
    edges.unpersist()
    if (!converged) {
      labelsRdd.unpersist(blocking = false)
      throw new IllegalStateException(s"clusters did not reach the fixpoint within " +
        s"maxIters=$maxIters rounds (some clusters would be split); raise maxIters " +
        "for extremely long similarity chains")
    }
    labels.select(col("x").as("id"), col("lbl").as("cluster_id"))
  }
}
