package graft

import org.apache.spark.sql.functions._

import graft.cdc.CdcPipeline
import graft.lake.LakeTable
import graft.model.DerivedEvents

/** Physical-plan quality gates: these assert the *plan*, not the result —
  * the properties that keep the engine viable at 100 TB (filter pushdown to
  * parquet, column pruning, a single exchange in MERGE, broadcast for small
  * dims). A regression here is a performance bug even when results stay
  * correct. */
class PlanSpec extends SparkSuite {

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("filters and projections push down to the parquet scan") {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val q = li.filter(col("l_quantity") > 30).select("l_orderkey", "l_quantity")
    val plan = planOf(q)
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)]"),
      s"pushdown missing:\n$plan")
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"column pruning missing:\n$plan")
  }

  test("lake table reads push filters down too (manifest-schema parquet scan)") {
    val root = SparkTestBase.tmpDir("plan-lake")
    val p = new CdcPipeline(LakeTable(root)(spark), "plan", lineage = false)
    p.bootstrap(numBuckets = 4)
    p.applyBatch(DerivedEvents.fromDocuments(
      spark.read.parquet(s"$sfDir/documents.parquet")), 0)
    val q = p.table.read().filter(col("repo") === "repo-1").select("repo", "path")
    val plan = planOf(q)
    assert(plan.contains("PushedFilters") && plan.contains("EqualTo(repo,repo-1)"),
      s"lake scan pushdown missing:\n$plan")
  }

  test("small-dimension join broadcasts (no shuffle of the big side)") {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val nation = spark.read.parquet(s"$sfDir/nation.parquet")
    val o = spark.read.parquet(s"$sfDir/orders.parquet")
    val c = spark.read.parquet(s"$sfDir/customer.parquet")
    val q = li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(nation), c("c_nationkey") === nation("n_nationkey"))
      .groupBy("n_name").count()
    val plan = planOf(q)
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
  }

  test("whole-stage codegen covers the scan→filter→project pipeline") {
    val q = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .filter(col("l_discount") > 0.05)
      .select((col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
    // codegen'd operators render with a "*(stage)" prefix in the plan string
    val plan = planOf(q)
    assert(plan.contains("*(1)") || plan.contains("WholeStageCodegen"), plan)
  }

  test("MERGE plan: exactly one exchange (single shuffle), no cartesian") {
    val root = SparkTestBase.tmpDir("plan-merge")
    val p = new CdcPipeline(LakeTable(root)(spark), "plan2", lineage = false)
    p.bootstrap(numBuckets = 8)
    val ev = DerivedEvents.fromDocuments(spark.read.parquet(s"$sfDir/documents.parquet"))
    p.applyBatch(ev, 0)
    // capture the plan the merge would build for a second batch: union of
    // pruned target + batch repartitioned by _bucket, window, filter
    import graft.model.CdcModel
    val snap = p.table.currentSnapshot.get
    val batch = LakeTable.withBucket(ev, CdcModel.KeyCols, snap.numBuckets)
    val target = p.table.read()
      .withColumn(LakeTable.BucketCol, LakeTable.bucketExpr(CdcModel.KeyCols, snap.numBuckets))
      .select(col(LakeTable.BucketCol), col("repo"), col("path"), col("commit"), col("_lsn"))
    val combined = target
      .unionByName(batch.select(col(LakeTable.BucketCol), col("repo"), col("path"),
        col("commit"), col("lsn").as("_lsn")))
      .repartition(4, col(LakeTable.BucketCol))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(LakeTable.BucketCol), col("repo"), col("path"), col("commit"))
      .orderBy(col("_lsn").desc)
    val merged = combined
      .sortWithinPartitions(col(LakeTable.BucketCol), col("repo"), col("path"),
        col("commit"), col("_lsn").desc)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
    val plan = planOf(merged)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected exactly 1 shuffle, got $exchanges:\n$plan")
    assert(!plan.contains("CartesianProduct"))
    // the explicit sort satisfies the window: no second Sort for the window
    val sorts = "\\bSort \\[".r.findAllIn(plan).size
    assert(sorts <= 1, s"window added an extra sort:\n$plan")
  }

  test("REAL MOR merge write job: one exchange, sort-satisfied window, stats on one CollectMetrics") {
    // capture the ACTUAL executed plan of the merge's write job (not a
    // mimic): regression net for the single-shuffle + no-extra-sort claims
    // now that MOR batch stats ride the window pass
    val captured = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        captured.add(qe.executedPlan.toString)
      def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val root = SparkTestBase.tmpDir("plan-mor-real")
      val p = new CdcPipeline(LakeTable(root)(spark), "planmor",
        lineage = false, mergeOnRead = true, compactEveryFiles = 0)
      p.bootstrap(numBuckets = 8)
      val ev = DerivedEvents.fromDocuments(
        spark.read.parquet(s"$sfDir/documents.parquet"))
      p.applyBatch(ev, 0)
      // listener delivery is async — poll for the write job's plan
      var plan: Option[String] = None
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (plan.isEmpty && System.nanoTime() < deadline) {
        import scala.jdk.CollectionConverters._
        plan = captured.asScala.find(s =>
          s.contains("CollectMetrics") && s.contains("WriteFiles"))
        if (plan.isEmpty) Thread.sleep(100)
      }
      // AdaptiveSparkPlan.toString prints the final AND the initial plan —
      // count nodes only in the final section
      val pl = plan.getOrElse(fail("no write-job plan captured"))
        .split("== Initial Plan ==")(0)
      val exchanges = "Exchange hashpartitioning".r.findAllIn(pl).size
      assert(exchanges === 1, s"expected exactly 1 shuffle in the MOR merge, got $exchanges:\n$pl")
      // exactly ONE CollectMetrics node: a second one never reports inside
      // foreachBatch (the round-3 deadlock) — this pins the invariant
      assert("CollectMetrics".r.findAllIn(pl).size === 1, s"plan must carry one CollectMetrics:\n$pl")
      // all five window functions (LWW row_number + the four stats) share
      // ONE Window node over the explicit sort — a computed argument would
      // split them into multiple WindowExec passes
      assert("\\bWindow \\[".r.findAllIn(pl).size === 1, s"window functions did not collapse:\n$pl")
      // our explicit sort satisfies both the window and the partitioned
      // write's required ordering — no second Sort anywhere
      val sorts = "\\bSort \\[".r.findAllIn(pl).size
      assert(sorts <= 1, s"extra sort appeared in the MOR merge plan:\n$pl")
      assert(!pl.contains("CartesianProduct"))

      // salted path, same invariants: the salt expr must appear among the
      // window partition keys, or Catalyst inserts a SECOND exchange
      captured.clear()
      spark.conf.set("graft.merge.salt", "4")
      try p.applyBatch(ev.withColumn("lsn", col("lsn") + 1000000L), 1)
      finally spark.conf.unset("graft.merge.salt")
      var plan2: Option[String] = None
      val deadline2 = System.nanoTime() + 30L * 1000000000L
      while (plan2.isEmpty && System.nanoTime() < deadline2) {
        import scala.jdk.CollectionConverters._
        // "_salt" tags the salted batch's plan specifically: listener delivery
        // is async, so a straggler plan from batch 0 (unsalted — no _salt
        // column exists in it) can land after captured.clear() and must not
        // satisfy this search, or the salted-path assertions below would run
        // against the wrong plan and a second-exchange regression could hide
        plan2 = captured.asScala.find(s =>
          s.contains("CollectMetrics") && s.contains("WriteFiles") &&
          s.contains("_salt"))
        if (plan2.isEmpty) Thread.sleep(100)
      }
      val pl2 = plan2.getOrElse(fail("no salted write-job plan captured"))
        .split("== Initial Plan ==")(0)
      assert("Exchange hashpartitioning".r.findAllIn(pl2).size === 1,
        s"salted MOR merge must still plan one shuffle:\n$pl2")
      assert("\\bWindow \\[".r.findAllIn(pl2).size === 1)
      assert("\\bSort \\[".r.findAllIn(pl2).size <= 1)
    } finally spark.listenerManager.unregister(listener)
  }

  test("salted MERGE shape still plans exactly one exchange") {
    // regression: HashPartitioning(bucket, khash mod S) satisfies the
    // window's clustered distribution ONLY if the salt expression is among
    // the window partition keys — without it Catalyst inserts a second
    // shuffle (found by the salt file-spread test, fixed in Merge)
    import graft.model.CdcModel
    val ev = DerivedEvents.fromDocuments(spark.read.parquet(s"$sfDir/documents.parquet"))
    val b = LakeTable.withBucket(ev, CdcModel.KeyCols, 8)
      .withColumn("_khash", xxhash64(CdcModel.KeyCols.map(col): _*))
    val saltExpr = pmod(col("_khash"), lit(4))
    val partCols = Seq(col(LakeTable.BucketCol), saltExpr, col("_khash")) ++
      CdcModel.KeyCols.map(col)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(partCols: _*).orderBy(col("lsn").desc)
    val merged = b
      .repartition(4, col(LakeTable.BucketCol), saltExpr)
      .sortWithinPartitions(partCols :+ col("lsn").desc: _*)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
    val plan = planOf(merged)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"salted shape added a shuffle:\n$plan")
  }

  test("MERGE stats path: one pre-pass per copy-on-write batch, none when append-only") {
    val sc = spark.sparkContext
    val counter = new MergeActionCounter
    sc.addSparkListener(counter)
    // listener delivery is async but ordered: once a tagged no-op job's start
    // event arrives, every earlier job's has too
    def drain(): Unit = {
      val tag = java.util.UUID.randomUUID().toString
      sc.setLocalProperty(MergeActionCounter.SentinelProp, tag)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(MergeActionCounter.SentinelProp, null)
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!counter.sentinels.contains(tag) && System.nanoTime() < deadline) Thread.sleep(20)
      assert(counter.sentinels.contains(tag), "listener bus did not drain")
    }
    def prepasses(f: => Any): Int = {
      drain(); counter.actions.set(0); f; drain(); counter.actions.get
    }
    try {
      val ev = graft.model.SyntheticEvents.generate(spark, 400)
      val (lower, upper) = (ev.filter(col("lsn") < 200), ev.filter(col("lsn") >= 200))
      val cow = new CdcPipeline(LakeTable(SparkTestBase.tmpDir("plan-jobs-cow"))(spark),
        "jobs-cow", lineage = false)
      cow.bootstrap(numBuckets = 8)
      assert(prepasses(cow.applyBatch(lower, 0L)) === 0,
        "a batch into an empty target is append-only: no pre-pass")
      assert(prepasses(cow.replay(upper, numBatches = 4, startBatchId = 1L)) === 4,
        "a copy-on-write replay runs exactly one pre-pass per batch")
      val mor = new CdcPipeline(LakeTable(SparkTestBase.tmpDir("plan-jobs-mor"))(spark),
        "jobs-mor", lineage = false, mergeOnRead = true, compactEveryFiles = 0)
      mor.bootstrap(numBuckets = 8)
      mor.applyBatch(lower, 0L)
      assert(prepasses(mor.applyBatch(upper, 1L)) === 0,
        "merge-on-read never runs a pre-pass")
    } finally sc.removeSparkListener(counter)
  }

  test("generation-aware reads: single-generation tables plan no shuffle and no window") {
    val ev = DerivedEvents.fromDocuments(spark.read.parquet(s"$sfDir/documents.parquet"))
    // copy-on-write: every bucket holds exactly one file after a merge —
    // liveState must be a bare scan + filter (NO Exchange, NO Window): this
    // is the read path under every gate query, db-terminal and transform,
    // and a full-table shuffle here was the dominant 100-TB read cost
    val p = new CdcPipeline(LakeTable(SparkTestBase.tmpDir("plan-genaware-cow"))(spark),
      "plangen", lineage = false)
    p.bootstrap(numBuckets = 4)
    p.applyBatch(ev, 0)
    assert(p.table.currentSnapshot.get.files.groupBy(_.bucket).values.forall(_.size == 1))
    val plan1 = planOf(CdcPipeline.liveState(p.table))
    assert(!plan1.contains("Exchange"), s"CoW liveState must not shuffle:\n$plan1")
    assert(!"\\bWindow \\[".r.findFirstIn(plan1).isDefined,
      s"CoW liveState must not window:\n$plan1")

    // fragmented MOR: the window appears (scoped to the multi-file buckets)…
    val p2 = new CdcPipeline(LakeTable(SparkTestBase.tmpDir("plan-genaware-mor"))(spark),
      "plangen2", lineage = false, mergeOnRead = true, compactEveryFiles = 0)
    p2.bootstrap(numBuckets = 4)
    p2.applyBatch(ev, 0)
    p2.applyBatch(ev.withColumn("lsn", col("lsn") + 1000000L), 1)
    val plan2 = planOf(CdcPipeline.liveState(p2.table))
    assert("\\bWindow \\[".r.findFirstIn(plan2).isDefined,
      s"fragmented MOR liveState needs the LWW window:\n$plan2")

    // …and compaction makes every bucket single-file again → window gone
    graft.cdc.Compaction(p2.table, horizonLsn = -1L, maxFilesPerBucket = 1)
    val plan3 = planOf(CdcPipeline.liveState(p2.table))
    assert(!plan3.contains("Exchange") && !"\\bWindow \\[".r.findFirstIn(plan3).isDefined,
      s"compacted MOR liveState must read window-free:\n$plan3")
  }

  test("point lookup plans a pushed-down single-bucket scan; no shuffle off the fast path") {
    val ev = DerivedEvents.fromDocuments(spark.read.parquet(s"$sfDir/documents.parquet"))
    val p = new CdcPipeline(LakeTable(SparkTestBase.tmpDir("plan-lookup"))(spark),
      "planlk", lineage = false)
    p.bootstrap(numBuckets = 4)
    p.applyBatch(ev, 0) // CoW: every bucket single-file → lookup skips the window
    val key = p.state().orderBy("repo", "path", "commit").head()
    val plan = planOf(CdcPipeline.lookup(p.table, Map(
      "repo" -> key.getString(0), "path" -> key.getString(1), "commit" -> key.getString(2))))
    // key-equality filters must reach the parquet scan (row-group skipping
    // INSIDE the one bucket's files — the second pruning level after bucketOf)
    // the PushedFilters list is elided in toString, so assert the leading
    // entries there and the full triple on the (untruncated) Filter node
    assert(plan.contains("PushedFilters") && plan.contains("EqualTo(repo,") &&
      Seq("repo#", "path#", "commit#").forall(c => s"\\($c\\d+ = ".r.findFirstIn(plan).isDefined),
      s"key equality must push down to the scan:\n$plan")
    assert(!plan.contains("Exchange") && !"\\bWindow \\[".r.findFirstIn(plan).isDefined,
      s"single-generation lookup must be scan+filter only:\n$plan")
  }

  test("dedup operators never build a cartesian product") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(100)
    val p1 = planOf(graft.operators.DedupOps.ngramJaccardPairs(docs, 3, 0.5))
    val p2 = planOf(graft.operators.DedupOps.minhashLshPairs(docs, 3, 4, 2))
    assert(!p1.contains("CartesianProduct") && !p2.contains("CartesianProduct"))
    assert(p1.contains("SortMergeJoin") || p1.contains("ShuffledHashJoin") ||
      p1.contains("BroadcastHashJoin"))
  }

  test("ANN top-k is a spilling window, never a per-group unbounded collect") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val q = emb.filter(org.apache.spark.sql.functions.col("vec_id") < 3)
    for (df <- Seq(graft.operators.SimilarityOps.bruteForceTopK(q, emb, 3),
                   graft.operators.SimilarityOps.lshTopK(q, emb, 3, planes = 4))) {
      val plan = planOf(df)
      // collect_list/array_sort top-k materializes one array per query —
      // a single-task OOM at 10^9 corpus vectors; the window external-sorts
      assert(!plan.contains("collect_list") && !plan.contains("ObjectHashAggregate"),
        s"unbounded per-group collect in ANN plan:\n$plan")
      assert(plan.contains("Window"), s"expected window top-k:\n$plan")
    }
  }

  test("minhash signatures are a per-row projection: no explode, no shuffle, no sort-agg") {
    // round 6: min(md5-string) is not hash-aggregable, so the old explode +
    // groupBy(id) shape planned Sort → SortAggregate → Exchange → Sort →
    // SortAggregate over the full exploded shingle stream; the per-row fold
    // must keep the whole computation inside one map-side projection
    // filter, not limit: a limit plans a GlobalLimit Exchange of its own
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("doc_id") < 100)
    val plan = planOf(graft.operators.DedupOps.minhashSignatures(docs, 3, 8))
    assert(!plan.contains("Exchange"), s"shuffle in signature plan:\n$plan")
    assert(!plan.contains("SortAggregate"), s"sort-agg in signature plan:\n$plan")
    assert(!plan.contains("Generate"), s"explode in signature plan:\n$plan")
    // ...and the shingle array is materialized ONCE below the 8 folds — a
    // collapsed projection would re-evaluate the shingle construction per fold
    assert("array_distinct".r.findAllIn(plan).size === 1,
      s"shingle expression duplicated across folds:\n$plan")
  }

  test("banded LSH self-join shuffles both sides (signature subplan computed once)") {
    // a broadcast side would recompute the entire signature subplan for the
    // build relation (a BroadcastExchange shares nothing with the probe
    // side); hashed both ways the two band-keyed exchanges are canonically
    // identical and exchange reuse evaluates the signatures once — also the
    // documented scale shape (shuffle O(docs × bands))
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(100)
    val plan = planOf(graft.operators.DedupOps.minhashLshPairs(
      docs, n = 3, bands = 4, rowsPerBand = 2))
    assert(plan.contains("ShuffledHashJoin"), s"expected shuffled self-join:\n$plan")
    assert(!plan.contains("BroadcastHashJoin"), s"broadcast self-join recomputes signatures:\n$plan")
  }

  test("langId tokenizes the text exactly once") {
    // round 6: the per-language langHits form re-evaluated
    // split(lower(trim(text))) once per language (CodegenFallback — no
    // subexpression elimination); the fused fold must plan ONE tokenization
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(100)
    val plan = planOf(docs.select(
      graft.functions.TextFunctions.langId(col("text")).as("lang")))
    assert("split\\(lower\\(trim".r.findAllIn(plan).size === 1,
      s"langId tokenizes more than once:\n$plan")
  }

  test("ngram jaccard does not force a broadcast of the per-doc sizes side") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(100)
    val logical = graft.operators.DedupOps.ngramJaccardPairs(docs, 3, 0.5)
      .queryExecution.logical.toString()
    // sizes is one row per document — a broadcast HINT would be a driver
    // collect of the whole corpus id space at 10^9 docs. AQE may still
    // CHOOSE to broadcast at small scale; the hint must not force it.
    assert(!logical.contains("UnresolvedHint") && !logical.contains("ResolvedHint"),
      s"forced broadcast hint in ngramJaccard logical plan:\n$logical")
  }

  test("ngram df-cap plans an aggregated anti-join, never a window over the shingle stream") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(100)
    // default is capped now — both the default and an explicit cap must use
    // groupBy (map-side combine) + anti-join; count().over(Window.partitionBy(sh))
    // would re-shuffle the whole exploded stream and put each hot shingle in
    // one task
    for (df <- Seq(graft.operators.DedupOps.ngramJaccardPairs(docs, 3, 0.5),
                   graft.operators.DedupOps.ngramJaccardPairs(docs, 3, 0.5, dfCap = 4))) {
      val plan = planOf(df)
      assert(!plan.contains("Window"), s"window in ngram DF-cap plan:\n$plan")
      assert(plan.contains("HashAggregate"), s"expected aggregated DF count:\n$plan")
    }
  }

  test("ngram jaccard df-cap prunes boilerplate shingles but keeps exact pairs") {
    import spark.implicits._
    // 6 docs share the boilerplate trigram; two true near-dups share more
    val data: Seq[(Long, String)] = (Seq(
      "alpha beta gamma delta epsilon zeta",
      "alpha beta gamma delta epsilon eta").zipWithIndex ++
      (2 to 7).map(i => s"alpha beta gamma doc$i unique$i text$i").zipWithIndex.map {
        case (t, i) => (t, i + 2) })
      .map { case (t, i) => (i.toLong, t) }
    val docs = data.toDF("doc_id", "text")
    val uncapped = graft.operators.DedupOps.ngramJaccardPairs(docs, 3, 0.3, dfCap = 0)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val capped = graft.operators.DedupOps.ngramJaccardPairs(docs, 3, 0.3, dfCap = 4)
      .select("a", "b").as[(Long, Long)].collect().toSet
    // the near-dup pair (0,1) shares non-boilerplate shingles → survives cap
    assert(uncapped.contains((0L, 1L)) && capped.contains((0L, 1L)))
    // capped Jaccard uses the capped shingle universe CONSISTENTLY —
    // intersections AND denominators exclude hot shingles — so the invariant
    // is equality with a brute-force recomputation over that universe, NOT
    // subset-of-uncapped: dropping a hot shingle present in only one doc of
    // a pair legitimately RAISES that pair's similarity
    def shingleSet(t: String): Set[String] =
      t.trim.split("\\s+").toSeq.sliding(3).map(_.mkString(" ")).toSet
    val sets = data.map { case (id, t) => id -> shingleSet(t) }.toMap
    val hot = sets.values.flatten.groupBy(identity)
      .collect { case (s, occ) if occ.size > 4 => s }.toSet
    val cappedSets = sets.map { case (id, s) => id -> (s -- hot) }
    val expected = (for {
      (a, sa) <- cappedSets.toSeq; (b, sb) <- cappedSets.toSeq if a < b
      inter = (sa & sb).size
      if inter > 0 && inter.toDouble / (sa ++ sb).size >= 0.3
    } yield (a, b)).toSet
    assert(capped === expected)
  }
}

/** Counts the Spark actions whose innermost `graft` call-site frame is in
  * Merge.scala: the copy-on-write pre-pass is the only action Merge runs
  * itself — its write is issued from LakeTable. An action is a SQL
  * execution (AQE runs one as several jobs: shuffle-map stages, then the
  * result) or a job outside any SQL execution, such as an RDD action. AQE
  * submits jobs from a pool thread, so a SQL execution's frame comes from
  * its start event, which carries the call site of the thread that ran it. */
private final class MergeActionCounter extends org.apache.spark.scheduler.SparkListener {
  import org.apache.spark.scheduler.{SparkListenerEvent, SparkListenerJobStart}
  private val GraftFrame = """\bgraft\.[\w.$]+\(([\w]+\.scala)""".r
  private def fromMerge(callSite: String): Boolean =
    GraftFrame.findFirstMatchIn(callSite).exists(_.group(1) == "Merge.scala")

  val actions = new java.util.concurrent.atomic.AtomicInteger()
  val sentinels: java.util.Set[String] = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      if (fromMerge(s.details)) actions.incrementAndGet()
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val prop = (k: String) => Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    prop(MergeActionCounter.SentinelProp).foreach(sentinels.add)
    if (prop("spark.sql.execution.id").isEmpty && e.stageInfos.exists(si => fromMerge(si.details)))
      actions.incrementAndGet()
  }
}

private object MergeActionCounter {
  val SentinelProp = "graft.test.sentinel"
}
