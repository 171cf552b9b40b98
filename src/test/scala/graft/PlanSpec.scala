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
    val p = new CdcPipeline(LakeTable(root)(spark), "plan")
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
    val p = new CdcPipeline(LakeTable(root)(spark), "plan2")
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
        mergeOnRead = true, compactEveryFiles = 0)
      p.bootstrap(numBuckets = 8)
      val ev = DerivedEvents.fromDocuments(
        spark.read.parquet(s"$sfDir/documents.parquet"))
      p.applyBatch(ev, 0)
      // listener delivery is async — poll for the write job's plan
      var plan: Option[String] = None
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (plan.isEmpty && System.nanoTime() < deadline) {
        import scala.jdk.CollectionConverters._
        // the merge's write job is the one execution carrying its Observation
        plan = captured.asScala.find(s => s.contains("CollectMetrics"))
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
          s.contains("CollectMetrics") && s.contains("_salt"))
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

  /** Runs `body` with a [[MergeActionCounter]] registered on the context. */
  private def withActionCounter[T](body: MergeActionCounter => T): T = {
    val counter = new MergeActionCounter(spark.sparkContext)
    spark.sparkContext.addSparkListener(counter)
    try body(counter) finally spark.sparkContext.removeSparkListener(counter)
  }

  test("MERGE stats path: no Merge-issued action besides the write, in every mode") {
    withActionCounter { counter =>
      def prepasses(f: => Any): Int = counter.during(f)._1
      val ev = graft.model.SyntheticEvents.generate(spark, 400)
      val (lower, upper) = (ev.filter(col("lsn") < 200), ev.filter(col("lsn") >= 200))
      val cow = new CdcPipeline(LakeTable(SparkTestBase.tmpDir("plan-jobs-cow"))(spark),
        "jobs-cow")
      cow.bootstrap(numBuckets = 8)
      assert(prepasses(cow.applyBatch(lower, 0L)) === 0,
        "a batch into an empty target runs no action besides its write")
      assert(prepasses(cow.replay(upper, numBatches = 4, startBatchId = 1L)) === 0,
        "a copy-on-write batch learns its buckets inside the write job: no pre-pass")
      assert(prepasses(cow.applyBatch(upper.filter(lit(false)), 5L)) === 0,
        "an empty copy-on-write batch is detected after its write job")
      val mor = new CdcPipeline(LakeTable(SparkTestBase.tmpDir("plan-jobs-mor"))(spark),
        "jobs-mor", mergeOnRead = true, compactEveryFiles = 0)
      mor.bootstrap(numBuckets = 8)
      mor.applyBatch(lower, 0L)
      assert(prepasses(mor.applyBatch(upper, 1L)) === 0,
        "merge-on-read never runs a pre-pass")
    }
  }

  test("replay: one slice is one SQL execution, the merge write; N slices add one bounds job") {
    withActionCounter { counter =>
      def executions(f: => Any): Int = counter.during(f)._2
      val ev = graft.model.SyntheticEvents.generate(spark, 600)
      for (mor <- Seq(false, true)) {
        val p = new CdcPipeline(LakeTable(SparkTestBase.tmpDir(s"plan-replay-jobs-$mor"))(spark),
          s"replay-jobs-$mor", mergeOnRead = mor, compactEveryFiles = 0)
        p.bootstrap(numBuckets = 8)
        assert(executions(p.replay(ev.filter(col("lsn") < 200), 1)) === 1,
          s"mergeOnRead=$mor: a one-slice replay into an empty table")
        assert(executions(p.replay(ev.filter(col("lsn") >= 200 && col("lsn") < 300), 1, 1L)) === 1,
          s"mergeOnRead=$mor: a one-slice replay into a populated table")
        assert(executions(p.replay(ev.filter(col("lsn") >= 300), 3, 2L)) === 4,
          s"mergeOnRead=$mor: three slices are three writes and the bounds job")
        assert(executions(p.replay(ev.filter(lit(false)), 1, 5L)) === 1,
          s"mergeOnRead=$mor: an empty one-slice replay runs its (empty) write job")
      }
    }
  }

  test("ordered one-slice replays reuse the merge's generated code from batch to batch") {
    // each batch is its own directory, so the test's own plans carry no
    // per-batch literal either
    val dir = SparkTestBase.tmpDir("plan-codegen") + "/events"
    graft.model.SyntheticEvents.generate(spark, 5 * 400L, seed = 7L)
      .withColumn("b", floor(col("lsn") / 400)).write.partitionBy("b").parquet(dir)
    val schema = spark.read.parquet(s"$dir/b=0").schema
    def batch(i: Int) = spark.read.schema(schema).parquet(s"$dir/b=$i")
    for (mor <- Seq(true, false)) {
      val p = new CdcPipeline(LakeTable(SparkTestBase.tmpDir(s"plan-codegen-$mor"))(spark),
        s"codegen-$mor", mergeOnRead = mor, compactEveryFiles = 0)
      p.bootstrap(numBuckets = 8)
      // batch 0 meets an empty table with no watermark; batch 1 is the
      // warm-up, the first with a watermark guard and a populated target
      for (i <- 0 to 1) { p.replay(batch(i), 1, i.toLong); p.awaitMaintenance() }
      val compiles = (2 to 4).map { i =>
        val n = SparkTestBase.compilesDuring(p.replay(batch(i), 1, i.toLong))
        p.awaitMaintenance()
        n
      }
      assert(compiles === Seq(0L, 0L, 0L),
        s"mergeOnRead=$mor: steady-state batches compiled generated code")
    }
  }

  test("REAL copy-on-write merge write job: DPP prunes the target scan to the touched buckets, one CollectMetrics") {
    val captured = new java.util.concurrent.CopyOnWriteArrayList[
      org.apache.spark.sql.execution.QueryExecution]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        captured.add(qe)
      def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val numBuckets = 32
      val ev = graft.model.SyntheticEvents.generate(spark, 2000)
      val p = new CdcPipeline(LakeTable(SparkTestBase.tmpDir("plan-cow-real"))(spark),
        "plancow")
      p.bootstrap(numBuckets = numBuckets)
      p.applyBatch(ev.filter(col("lsn") < 1990), 0L)
      val parent = p.table.currentSnapshot.get
      val batch = ev.filter(col("lsn") >= 1990)
      val touched = batch
        .select(pmod(xxhash64(graft.model.CdcModel.KeyCols.map(col): _*), lit(numBuckets))
          .cast("int"))
        .distinct().collect().map(_.getInt(0)).toSet
      val touchedFiles = parent.files.count(f => touched.contains(f.bucket))
      assert(touchedFiles > 0 && touchedFiles < parent.files.size,
        s"the batch must touch a strict subset of the populated buckets: $touched")
      val stats = p.applyBatch(batch, 1L)
      assert(stats.filesRewritten === touchedFiles)
      // listener delivery is async — poll for this batch's write job: the
      // observation is named after (appId, batchId, parent version)
      val tag = s"merge-plancow-1-${parent.version}"
      var qe: Option[org.apache.spark.sql.execution.QueryExecution] = None
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (qe.isEmpty && System.nanoTime() < deadline) {
        import scala.jdk.CollectionConverters._
        qe = captured.asScala.find(q => q.executedPlan.toString.contains(tag))
        if (qe.isEmpty) Thread.sleep(100)
      }
      val plan = qe.getOrElse(fail("no copy-on-write write-job plan captured")).executedPlan
      val finalPlan = plan.toString.split("== Initial Plan ==")(0)
      assert("CollectMetrics".r.findAllIn(finalPlan).size === 1,
        s"the write job must carry exactly one CollectMetrics:\n$finalPlan")
      val targetScans = SparkTestBase.lakeScans(plan)
      assert(targetScans.nonEmpty, s"no target scan in the write job:\n$plan")
      targetScans.foreach { s =>
        assert(s.partitionFilters.exists(_.toString.contains("dynamicpruningexpression")),
          s"the target scan must carry a dynamic pruning filter:\n$plan")
        // the scan read exactly the files of the touched buckets
        assert(s.metrics("numFiles").value === touchedFiles,
          s"target scan read ${s.metrics("numFiles").value} files, expected $touchedFiles")
      }
    } finally spark.listenerManager.unregister(listener)
  }

  test("REAL merge write plan size: operators above the batch relation, per mode") {
    // building and analysing the merge's plan is a fixed cost of every batch
    // that grows with its operators: pin their number in the analyzed plan
    // of the real write. The batch is one Parquet relation and the target
    // one manifest relation, both leaves, so every other node is one the
    // merge built.
    import org.apache.spark.sql.catalyst.plans.logical.CollectMetrics
    import org.apache.spark.sql.execution.QueryExecution
    val captured = new java.util.concurrent.CopyOnWriteArrayList[QueryExecution]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = captured.add(qe)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    val dir = SparkTestBase.tmpDir("plan-size") + "/events"
    graft.model.SyntheticEvents.generate(spark, 2 * 300L, seed = 3L)
      .withColumn("b", floor(col("lsn") / 300)).write.partitionBy("b").parquet(dir)
    def batch(i: Int) = spark.read.parquet(s"$dir/b=$i")
    spark.listenerManager.register(listener)
    try {
      // (merge-on-read, ordered delivery) -> operators of the second batch's write
      val operators = Seq((true, true), (true, false), (false, false)).map { case (mor, ordered) =>
        val appId = s"plan-size-$mor-$ordered"
        val p = new CdcPipeline(LakeTable(SparkTestBase.tmpDir(appId))(spark), appId,
          mergeOnRead = mor, compactEveryFiles = 0)
        p.bootstrap(numBuckets = 8)
        def merge(i: Int) = graft.cdc.Merge(p.table, batch(i), appId, i.toLong,
          orderedDelivery = ordered, mergeOnRead = mor)
        merge(0)
        val tag = s"merge-$appId-1-${p.table.currentSnapshot.get.version}"
        merge(1)
        // listener delivery is async — poll for this batch's write
        def write = {
          import scala.jdk.CollectionConverters._
          captured.asScala.find(_.analyzed.exists {
            case c: CollectMetrics => c.name == tag
            case _ => false
          })
        }
        val deadline = System.nanoTime() + 30L * 1000000000L
        while (write.isEmpty && System.nanoTime() < deadline) Thread.sleep(100)
        val plan = write.getOrElse(fail(s"no write plan captured for $tag")).analyzed
        (mor, ordered) -> plan.collect { case n if n.children.nonEmpty => n }.size
      }.toMap
      assert(operators === Map((true, true) -> 13, (true, false) -> 12, (false, false) -> 21))
    } finally spark.listenerManager.unregister(listener)
  }

  test("generation-aware reads: single-generation tables plan no shuffle and no window") {
    val ev = DerivedEvents.fromDocuments(spark.read.parquet(s"$sfDir/documents.parquet"))
    // copy-on-write: every bucket holds exactly one file after a merge —
    // liveState must be a bare scan + filter (NO Exchange, NO Window): this
    // is the read path under every gate query, db-terminal and transform,
    // and a full-table shuffle here was the dominant 100-TB read cost
    val p = new CdcPipeline(LakeTable(SparkTestBase.tmpDir("plan-genaware-cow"))(spark),
      "plangen")
    p.bootstrap(numBuckets = 4)
    p.applyBatch(ev, 0)
    assert(p.table.currentSnapshot.get.files.groupBy(_.bucket).values.forall(_.size == 1))
    val plan1 = planOf(CdcPipeline.liveState(p.table))
    assert(!plan1.contains("Exchange"), s"CoW liveState must not shuffle:\n$plan1")
    assert(!"\\bWindow \\[".r.findFirstIn(plan1).isDefined,
      s"CoW liveState must not window:\n$plan1")

    // fragmented MOR: the window appears (scoped to the multi-file buckets)…
    val p2 = new CdcPipeline(LakeTable(SparkTestBase.tmpDir("plan-genaware-mor"))(spark),
      "plangen2", mergeOnRead = true, compactEveryFiles = 0)
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
      "planlk")
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
    // the bucket prune is a partition filter on the manifest relation
    assert("PartitionFilters: \\[[^\\]]*_bucket".r.findFirstIn(plan).isDefined,
      s"point lookup must prune by a _bucket partition filter:\n$plan")
  }

  test("point lookup cost: bucketOf runs no query, a single-generation lookup one, none compiles") {
    withActionCounter { counter =>
      def executions(f: => Any): Int = counter.during(f)._2
      val p = new CdcPipeline(LakeTable(SparkTestBase.tmpDir("plan-lookup-cost"))(spark),
        "planlkc")
      p.bootstrap(numBuckets = 8)
      p.applyBatch(graft.model.SyntheticEvents.generate(spark, 400), 0L) // CoW: single-file
      val snap = p.table.currentSnapshot.get
      val keys = p.state().select("repo", "path", "commit").orderBy("repo", "path", "commit")
        .limit(5).collect().map(r => Map("repo" -> r.get(0), "path" -> r.get(1),
          "commit" -> r.get(2))).toSeq
      def lookup(k: Map[String, Any]) = CdcPipeline.lookupAt(p.table, snap, k)._2.collect()
      assert(executions(p.table.bucketOf(snap, snap.keyCols, keys(0))) === 0,
        "bucketOf hashes the key without a query")
      assert(executions(assert(lookup(keys(0)).length === 1)) === 1,
        "a single-generation lookup is one SQL execution, its bucket read")
      lookup(keys(1))
      assert(keys.drop(2).map(k => SparkTestBase.compilesDuring(lookup(k))) === Seq(0L, 0L, 0L),
        "steady-state lookups compiled generated code")
    }
  }

  /** The final executed plan of the lake write `body` runs that carries no
    * merge Observation (a compaction or rebucket rewrite), captured the way
    * the REAL merge write-job tests capture theirs. */
  private def rewritePlan(body: => Any): String = {
    val captured = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        if (funcName == "writeDataFiles") captured.add(qe.executedPlan.toString)
      def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      // listener delivery is async — poll; a straggler merge plan carries
      // the merge's CollectMetrics
      var plan: Option[String] = None
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (plan.isEmpty && System.nanoTime() < deadline) {
        import scala.jdk.CollectionConverters._
        plan = captured.asScala.find(!_.contains("CollectMetrics"))
        if (plan.isEmpty) Thread.sleep(100)
      }
      plan.getOrElse(fail("no rewrite plan captured")).split("== Initial Plan ==")(0)
    } finally spark.listenerManager.unregister(listener)
  }

  test("REAL compaction and rebucket write jobs: the LWW fold's one exchange is also the writer's") {
    val p = new CdcPipeline(LakeTable(SparkTestBase.tmpDir("plan-rewrite"))(spark),
      "planrewrite", mergeOnRead = true, compactEveryFiles = 0)
    p.bootstrap(numBuckets = 8)
    p.replay(graft.model.SyntheticEvents.generate(spark, 4000), numBatches = 4)
    assert(p.table.currentSnapshot.get.files.size === 32, "4 generations in each of 8 buckets")
    val live = p.state().collect().toSet
    val compaction = rewritePlan(graft.cdc.Compaction(p.table, -1L, maxFilesPerBucket = 1))
    assert("Exchange hashpartitioning".r.findAllIn(compaction).size === 1,
      s"compaction must shuffle once:\n$compaction")
    val rebucket = rewritePlan(p.table.rebucket(4, graft.model.CdcModel.KeyCols))
    assert("Exchange hashpartitioning".r.findAllIn(rebucket).size === 1,
      s"rebucket must shuffle once:\n$rebucket")
    assert(p.state().collect().toSet === live)
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

/** Counts two things per run of a block ([[during]]): the Spark actions
  * whose innermost `graft` call-site frame is in Merge.scala, and every SQL
  * execution. Merge's write is issued from LakeTable, so any other action
  * Merge runs itself (a pre-pass) is counted as Merge-issued. An action is a
  * SQL execution (AQE runs one as several jobs: shuffle-map stages, then the
  * result) or a job outside any SQL execution, such as an RDD action. AQE
  * submits jobs from a pool thread, so a SQL execution's frame comes from
  * its start event, which carries the call site of the thread that ran it. */
private final class MergeActionCounter(sc: org.apache.spark.SparkContext)
    extends org.apache.spark.scheduler.SparkListener {
  import org.apache.spark.scheduler.{SparkListenerEvent, SparkListenerJobStart}
  private val GraftFrame = """\bgraft\.[\w.$]+\(([\w]+\.scala)""".r
  private def fromMerge(callSite: String): Boolean =
    GraftFrame.findFirstMatchIn(callSite).exists(_.group(1) == "Merge.scala")
  private val SentinelProp = "graft.test.sentinel"

  private val actions = new java.util.concurrent.atomic.AtomicInteger()
  private val executions = new java.util.concurrent.atomic.AtomicInteger()
  private val sentinels = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** (Merge-issued actions, SQL executions) that `f` runs. */
  def during(f: => Any): (Int, Int) = {
    drain(); actions.set(0); executions.set(0)
    f
    drain(); (actions.get, executions.get)
  }

  // listener delivery is async but ordered: once a tagged no-op job's start
  // event arrives, every earlier job's has too
  private def drain(): Unit = {
    val tag = java.util.UUID.randomUUID().toString
    sc.setLocalProperty(SentinelProp, tag)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(SentinelProp, null)
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!sentinels.contains(tag) && System.nanoTime() < deadline) Thread.sleep(20)
    assert(sentinels.contains(tag), "listener bus did not drain")
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      executions.incrementAndGet()
      if (fromMerge(s.details)) actions.incrementAndGet()
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val prop = (k: String) => Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    prop(SentinelProp).foreach(sentinels.add)
    if (prop("spark.sql.execution.id").isEmpty && e.stageInfos.exists(si => fromMerge(si.details)))
      actions.incrementAndGet()
  }
}
