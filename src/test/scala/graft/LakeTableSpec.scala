package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.lake.{CommitConflictException, Epoch, LakeTable, Snapshot}

class LakeTableSpec extends SparkSuite {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("k", StringType), StructField("v", LongType)))

  test("create + overwrite + read round-trip") {
    val t = LakeTable(SparkTestBase.tmpDir("lake-rt"))(spark)
    t.create(schema, numBuckets = 4, appId = "t")
    val df = Seq(("a", 1L), ("b", 2L), ("c", 3L)).toDF("k", "v")
    t.overwrite(df, Seq("k"), "t")
    assert(t.read().orderBy("k").as[(String, Long)].collect().toSeq ===
      Seq(("a", 1L), ("b", 2L), ("c", 3L)))
    assert(t.latestVersion === 1)
  }

  test("commit CAS rejects stale parent (concurrent writers)") {
    val t = LakeTable(SparkTestBase.tmpDir("lake-cas"))(spark)
    val s0 = t.create(schema, 4, "t")
    val s1 = Snapshot(1, 0, schema.json, 4, Nil, "w1", -1, -1, Map.empty)
    t.commit(s1, 0)
    // second writer still thinks parent is 0 → must fail, not overwrite
    val s1b = Snapshot(1, 0, schema.json, 4, Nil, "w2", -1, -1, Map.empty)
    intercept[CommitConflictException] { t.commit(s1b, 0) }
    assert(t.currentSnapshot.get.appId === "w1")
  }

  test("commit rejects a parent behind the head even when vacuum freed its child's slot") {
    // the hard link alone would not: vacuum expired snapshot-1.json, so a
    // writer holding its parent would link into that free slot and publish
    // a record behind the head (this call, which reads its parent, would
    // fail on the expired record instead) — the parent check refuses both
    val t = LakeTable(SparkTestBase.tmpDir("lake-cas-vacuumed"))(spark)
    t.create(schema, 4, "t")
    (1 to 5).foreach(v =>
      t.commit(Snapshot(v, v - 1, schema.json, 4, Nil, "t", v, -1, Map.empty), v - 1))
    val old = System.currentTimeMillis() - 1000L
    Seq("meta", "data").foreach { d =>
      val dir = new org.apache.hadoop.fs.Path(s"${t.root}/$d")
      if (t.fs.exists(dir)) t.fs.listStatus(dir).foreach(f => t.fs.setTimes(f.getPath, old, -1))
    }
    t.vacuum(graceMs = 0L, retainSnapshots = 2)
    assert(t.versions === List(4L, 5L))
    intercept[CommitConflictException] {
      t.commit(Snapshot(1, 0, schema.json, 4, Nil, "stale", 1, -1, Map.empty), 0)
    }
    assert(t.versions === List(4L, 5L))
    assert(t.currentSnapshot.get.appId === "t")
  }

  test("replaceFiles re-applies a change to a newer snapshot only while it is still valid") {
    spark.conf.set("graft.manifest.bucketsPerGroup", "2")
    try {
      val t = LakeTable(SparkTestBase.tmpDir("lake-rule"))(spark)
      val other = LakeTable(t.root)(spark) // a second writer on the same table
      t.create(schema, numBuckets = 8, appId = "t") // granule 2 → groups 0-3
      val rows = spark.range(400).select(concat(lit("k"), col("id")).as("k"), col("id").as("v"))
      t.overwrite(rows, Seq("k"), "t")
      def fileIn(bucket: Int, tag: String) = t.writeDataFiles(
        LakeTable.withBucket(rows.withColumn("k", concat(lit(tag), col("k"))), Seq("k"), 8)
          .filter(col(LakeTable.BucketCol) === bucket))
      def pathsIn(s: Snapshot, bucket: Int) = s.files.filter(_.bucket == bucket).map(_.path).toSet
      def refused(change: => Snapshot): Unit = {
        val v = t.latestVersion
        intercept[CommitConflictException](change)
        assert(t.latestVersion === v, "a refused change must commit nothing")
      }

      // a disjoint append since the parent: re-applied on top of it
      val v1 = t.currentSnapshot.get
      val v2 = other.replaceFiles(v1, Set.empty, fileIn(6, "x"), None,
        Some(Epoch("w2", 3, 50, Map("s2" -> 50L))))
      val added = fileIn(1, "y")
      val v3 = t.replaceFiles(v1, pathsIn(v1, 1), added, None,
        Some(Epoch("w1", 7, 40, Map("s1" -> 40L))))
      assert(v3.version === 3 && v3.parentVersion === 2)
      assert(v3.files.map(_.path).toSet ===
        v2.files.map(_.path).toSet -- pathsIn(v1, 1) ++ added.map(_.path))
      assert((v3.appId, v3.batchId) === (("w1", 7L)))
      assert(v3.watermarkLsn === 50L, "the watermark is the max of both commits'")
      assert(v3.sourceOffsets === Map("s2" -> 50L, "s1" -> 40L))
      // only group 0 (bucket 1) changed; groups 1-3 reuse v2's manifest refs
      assert(v3.manifests.filter(_.group != 0) === v2.manifests.filter(_.group != 0))
      assert(v3.manifests.find(_.group == 0) !== v2.manifests.find(_.group == 0))

      // a removed file that is gone: refused
      val s3 = t.currentSnapshot.get
      other.replaceFiles(s3, pathsIn(s3, 2), fileIn(2, "z"), None, None)
      refused(t.replaceFiles(s3, pathsIn(s3, 2), fileIn(2, "q"), None, None))

      // the commit's own evolution over a schema drift: refused; without an
      // evolution of its own it re-applies under the drifted schema
      val s4 = t.currentSnapshot.get
      val wider = StructType(schema.fields :+ StructField("x", StringType))
      other.updateSchema(wider, "other")
      val own = StructType(schema.fields :+ StructField("y", StringType))
      refused(t.replaceFiles(s4, Set.empty, fileIn(3, "e"), Some(own.json), None))
      val v6 = t.replaceFiles(s4, Set.empty, fileIn(3, "e"), None, None)
      assert(v6.version === 6 && v6.schema === wider)

      // a same-app epoch at or past the batch: refused; a later batch of
      // that app, another app or a non-stream commit re-applies
      val s6 = t.currentSnapshot.get
      other.replaceFiles(s6, Set.empty, fileIn(4, "f"), None, Some(Epoch("app", 5, -1, Map.empty)))
      for (b <- Seq(4L, 5L))
        refused(t.replaceFiles(s6, Set.empty, fileIn(5, "g"), None,
          Some(Epoch("app", b, -1, Map.empty))))
      for ((epoch, v) <- Seq(Epoch("app2", 5, -1, Map.empty) -> 8L,
          Epoch("app", 6, -1, Map.empty) -> 9L, Epoch("app", -1, -1, Map.empty) -> 10L))
        assert(t.replaceFiles(s6, Set.empty, fileIn(5, "g"), None, Some(epoch)).version === v)

      // a rebucket since the parent: refused (the added files are bucketed
      // in the old layout)
      val s10 = t.currentSnapshot.get
      other.rebucket(4, Seq("k"))
      refused(t.replaceFiles(s10, Set.empty, fileIn(5, "h"), None, None))
    } finally spark.conf.unset("graft.manifest.bucketsPerGroup")
  }

  test("bucket invariant: each data file holds exactly one bucket") {
    val t = LakeTable(SparkTestBase.tmpDir("lake-bkt"))(spark)
    t.create(schema, 8, "t")
    val df = spark.range(1000).select(concat(lit("k"), col("id")).as("k"), col("id").as("v"))
    val snap = t.overwrite(df, Seq("k"), "t")
    assert(snap.files.nonEmpty)
    snap.files.foreach { f =>
      val actual = spark.read.parquet(s"${t.root}/data/${f.path}")
        .select(LakeTable.bucketExpr(Seq("k"), 8).as("b")).distinct().collect()
      assert(actual.length === 1 && actual(0).getInt(0) === f.bucket)
    }
    // manifest row counts match the data
    assert(snap.files.map(_.rows).sum === 1000)
  }

  test("a _bucket filter on the manifest relation prunes to the requested buckets only") {
    val t = LakeTable(SparkTestBase.tmpDir("lake-prune"))(spark)
    t.create(schema, 8, "t")
    val df = spark.range(1000).select(concat(lit("k"), col("id")).as("k"), col("id").as("v"))
    val snap = t.overwrite(df, Seq("k"), "t")
    val some = snap.files.map(_.bucket).distinct.take(3).toSet
    val pruned = t.scan(snap).where(col(LakeTable.BucketCol).isin(some.toSeq: _*))
    val got = pruned
      .select(LakeTable.bucketExpr(Seq("k"), 8).as("b")).distinct()
      .collect().map(_.getInt(0)).toSet
    assert(got === some)
    // the partition value IS the stored rows' bucket
    assert(pruned.filter(col(LakeTable.BucketCol) =!= LakeTable.bucketExpr(Seq("k"), 8))
      .count() === 0)
    val plan = pruned.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*_bucket".r.findFirstIn(plan).isDefined,
      s"bucket filter must be a partition filter:\n$plan")
  }

  test("updateSchema commit preserves data and evolves reads") {
    val t = LakeTable(SparkTestBase.tmpDir("lake-evo"))(spark)
    t.create(schema, 4, "t")
    t.overwrite(Seq(("a", 1L)).toDF("k", "v"), Seq("k"), "t")
    val wider = StructType(schema.fields :+ StructField("extra", StringType, nullable = true))
    t.updateSchema(wider, "t")
    val r = t.read()
    assert(r.columns.toSeq === Seq("k", "v", "extra"))
    assert(r.filter(col("extra").isNull).count() === 1) // old file → null
  }

  test("rebucket: state preserved, bucket invariant holds at new count") {
    val t = LakeTable(SparkTestBase.tmpDir("lake-rbk"))(spark)
    t.create(schema, 2, "t", keyCols = Seq("k"))
    val df = spark.range(500).select(concat(lit("k"), col("id")).as("k"), col("id").as("v"))
    t.overwrite(df, Seq("k"), "t")
    val before = t.read().orderBy("k").as[(String, Long)].collect().toSeq
    val snap = t.rebucket(16, Seq("k"))
    assert(snap.numBuckets === 16 && snap.keyCols === Seq("k"))
    assert(t.read().orderBy("k").as[(String, Long)].collect().toSeq === before)
    // the one-bucket-per-file invariant holds under the NEW bucket expr
    snap.files.foreach { f =>
      val b = spark.read.parquet(s"${t.root}/data/${f.path}")
        .select(LakeTable.bucketExpr(Seq("k"), 16).as("b")).distinct().collect()
      assert(b.length === 1 && b(0).getInt(0) === f.bucket)
    }
    // fencing identity carried from the parent (like Compaction)
    assert(snap.appId === t.snapshot(snap.parentVersion).appId)
  }

  test("rebucket folds MOR generations: live state exact, files truly single-generation") {
    import graft.cdc.CdcPipeline
    import graft.model.CdcModel
    val root = SparkTestBase.tmpDir("lake-rbk-mor")
    val p = new CdcPipeline(LakeTable(root)(spark), "rbk",
      mergeOnRead = true)
    p.bootstrap(numBuckets = 4)
    def toDF(rows: Seq[(Long, String, String, String, String, String, String, java.sql.Timestamp)]) =
      rows.toDF("lsn", "op", "repo", "path", "commit", "lang", "content", "eventTime")
    def ev(lsn: Long, op: String, id: Int, content: String) =
      (lsn, op, "r", s"p$id", "c", "scala", content, new java.sql.Timestamp(0L))
    // generation 1: 200 inserts; generation 2: 100 updates + 20 deletes —
    // a MOR table where many keys hold multiple physical generations
    p.applyBatch(toDF((1 to 200).map(i => ev(i, "U", i, s"v1-$i"))), 0L)
    p.applyBatch(toDF((1 to 100).map(i => ev(200L + i, "U", i, s"v2-$i")) ++
      (101 to 120).map(i => ev(400L + i, "D", i, ""))), 1L)
    def stateOf() = CdcPipeline.liveState(p.table)
      .select("repo", "path", "commit", "content")
      .orderBy("path").collect().toSeq
    val before = stateOf()
    assert(before.size === 180) // 200 - 20 deleted; updates won
    val snap = p.table.rebucket(16, CdcModel.KeyCols)
    // every bucket is one file — which the generation-aware read path takes
    // as "no window needed", so those files must be truly single-generation:
    // raw rows == distinct keys (tombstones included, superseded rows gone)
    assert(snap.files.groupBy(_.bucket).forall(_._2.size == 1))
    val raw = p.table.read()
    assert(raw.count() ===
      raw.select("repo", "path", "commit").distinct().count(),
      "a rebucketed file must hold at most ONE generation per key")
    // the window-skipping fast read returns the exact pre-rebucket state:
    // no duplicate keys, no resurrected deletes
    assert(stateOf() === before)
  }

  test("bucketOf: agrees with the writer's buckets; bad cast and partial key fail loudly") {
    val t = LakeTable(SparkTestBase.tmpDir("lake-bucketof"))(spark)
    val sch = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("v", StringType, nullable = true)))
    t.create(sch, 8, "t", keyCols = Seq("id"))
    t.overwrite(spark.range(200).select(col("id"), concat(lit("v"), col("id")).as("v")),
      Seq("id"), "t")
    val snap = t.currentSnapshot.get
    // reader-side hash must equal the bucket each row was WRITTEN into
    for (f <- snap.files.take(4)) {
      val id = spark.read.parquet(s"${t.root}/data/${f.path}").select("id").head().getLong(0)
      assert(t.bucketOf(snap, Seq("id"), Map("id" -> id)) === f.bucket)
      // and the CLI's string form casts to the recorded LongType identically
      assert(t.bucketOf(snap, Seq("id"), Map("id" -> id.toString)) === f.bucket)
    }
    // a value that does NOT cast to the recorded key type: loud, in any ansi
    // mode (xxhash64 would silently skip a null child → wrong bucket)
    val bad = intercept[IllegalArgumentException] {
      t.bucketOf(snap, Seq("id"), Map("id" -> "not-a-number"))
    }
    assert(bad.getMessage.contains("does not cast"))
    val partial = intercept[IllegalArgumentException] {
      t.bucketOf(snap, Seq("id"), Map.empty)
    }
    assert(partial.getMessage.contains("EVERY key column"))
    // a cast that SUCCEEDS but is lossy (42.9 → long 42) must also be loud:
    // silently hashing the truncated value would return ANOTHER key's row
    val lossy = intercept[IllegalArgumentException] {
      t.bucketOf(snap, Seq("id"), Map("id" -> 42.9))
    }
    assert(lossy.getMessage.contains("round-trip"))
    // …while a lossless widening of the same shape still resolves
    assert(t.bucketOf(snap, Seq("id"), Map("id" -> 42.0)) ===
      t.bucketOf(snap, Seq("id"), Map("id" -> 42L)))
    // the reader's hash equals the writer's bucket for each key type — the
    // CDC string triple, int, long, decimal, date, timestamp — in both ansi
    // modes: rows are read back with the bucket of the file that holds them
    val n = 64
    val keyed = Seq(
      Seq("repo", "path", "commit") -> spark.range(n).select(
        concat(lit("r"), col("id") % 5).as("repo"), concat(lit("p"), col("id")).as("path"),
        concat(lit("c"), col("id") % 3).as("commit"), col("id").as("v")),
      Seq("i") -> spark.range(n).select(col("id").cast("int").as("i"), col("id").as("v")),
      Seq("l") -> spark.range(n).select((col("id") * 1000003L).as("l"), col("id").as("v")),
      Seq("d") -> spark.range(n).select((col("id") * 1.5).cast("decimal(12,3)").as("d"),
        col("id").as("v")),
      Seq("dt") -> spark.range(n).select(date_add(lit("2024-01-01").cast("date"),
        col("id").cast("int")).as("dt"), col("id").as("v")),
      Seq("ts") -> spark.range(n).select(timestamp_seconds(col("id") * 3607L + 1700000000L)
        .as("ts"), col("id").as("v")))
    val ansi = spark.conf.get("spark.sql.ansi.enabled")
    try {
      for ((keys, df) <- keyed) {
        val kt = LakeTable(SparkTestBase.tmpDir(s"lake-bucketof-${keys.head}"))(spark)
        kt.create(df.schema, 8, "t", keyCols = keys)
        kt.overwrite(df, keys, "t")
        val ks = kt.currentSnapshot.get
        // each key as the typed value Spark returns and as the string the
        // CLI passes
        val rows = kt.scan(ks).select(
          (col(LakeTable.BucketCol) +: keys.map(col) ++: keys.map(k => col(k).cast("string"))): _*)
          .collect()
        assert(rows.map(_.getInt(0)).distinct.length > 1, s"$keys: one bucket only")
        for (mode <- Seq("true", "false"); r <- rows) {
          spark.conf.set("spark.sql.ansi.enabled", mode)
          val typed = keys.zipWithIndex.map { case (k, i) => k -> r.get(1 + i) }.toMap
          val text = keys.zipWithIndex.map { case (k, i) => k -> r.get(1 + keys.size + i) }.toMap
          assert(kt.bucketOf(ks, keys, typed) === r.getInt(0), s"$keys ansi=$mode: $typed")
          assert(kt.bucketOf(ks, keys, text) === r.getInt(0), s"$keys ansi=$mode: $text")
        }
      }
    } finally spark.conf.set("spark.sql.ansi.enabled", ansi)
  }

  test("commit writes O(changed groups) manifest bytes and vacuum bounds meta/") {
    spark.conf.set("graft.manifest.bucketsPerGroup", "4")
    try {
      val t = LakeTable(SparkTestBase.tmpDir("lake-mf"))(spark)
      t.create(schema, numBuckets = 32, appId = "t") // 32 buckets / 4 per group = 8 groups
      val df = spark.range(2000).select(concat(lit("k"), col("id")).as("k"), col("id").as("v"))
      val v1 = t.overwrite(df, Seq("k"), "t")
      assert(v1.manifests.map(_.group).sorted === (0 until 8).toList)
      // the persisted snapshot record holds manifest REFERENCES, not file entries
      val fs = t.fs
      val rawJson = scala.io.Source.fromInputStream(
        fs.open(new org.apache.hadoop.fs.Path(t.root, "meta/snapshot-1.json"))).mkString
      assert(!rawJson.contains(".parquet"), "snapshot record must not inline data files")
      assert(v1.manifests.map(_.rows).sum === 2000 && v1.files.map(_.rows).sum === 2000)

      // replace the files of ONE bucket → exactly one manifest group rewritten
      val bucket = v1.files.head.bucket
      val removed = v1.files.filter(_.bucket == bucket).map(_.path).toSet
      val oneBucket = LakeTable.withBucket(df, Seq("k"), 32)
        .filter(col(LakeTable.BucketCol) === bucket)
      val added = t.writeDataFiles(oneBucket)
      val v2 = t.replaceFiles(v1, removed, added, None, Some(Epoch("t", -1, -1, Map.empty)))
      val reused = v2.manifests.map(_.path).toSet.intersect(v1.manifests.map(_.path).toSet)
      assert(reused.size === 7, "all untouched groups must reuse the parent manifest verbatim")
      assert((v2.manifests.map(_.path).toSet -- v1.manifests.map(_.path).toSet).size === 1)
      // a metadata-only commit (schema evolution) reuses EVERY manifest
      val wider = StructType(schema.fields :+ StructField("x", StringType, nullable = true))
      val v3 = t.updateSchema(wider, "t")
      assert(v3.manifests.map(_.path).toSet === v2.manifests.map(_.path).toSet)

      // a fresh reader inflates the same file list the writer committed
      val reread = t.snapshot(v2.version)
      assert(reread.files.map(_.path).sorted === v2.files.map(_.path).sorted)

      // vacuum(retainSnapshots=1): meta/ ends bounded at one snapshot + its manifests
      t.vacuum(graceMs = 0L, retainSnapshots = 1)
      val metaNames = fs.listStatus(new org.apache.hadoop.fs.Path(t.root, "meta"))
        .map(_.getPath.getName).toSeq
      assert(metaNames.count(_.startsWith("snapshot-")) === 1)
      assert(metaNames.count(_.startsWith("manifest-")) === v3.manifests.size)
      assert(t.read().count() === 2000) // table still fully readable
    } finally spark.conf.unset("graft.manifest.bucketsPerGroup")
  }

  test("bucketsPerGroup persists in the snapshot: a changed conf cannot desync group layout") {
    spark.conf.set("graft.manifest.bucketsPerGroup", "4")
    try {
      val t = LakeTable(SparkTestBase.tmpDir("lake-bpg"))(spark)
      t.create(schema, numBuckets = 32, appId = "t") // 8 groups at granule 4
      val df = spark.range(2000).select(concat(lit("k"), col("id")).as("k"), col("id").as("v"))
      val v1 = t.overwrite(df, Seq("k"), "t")
      assert(v1.bucketsPerGroup === 4 && v1.manifests.size === 8)
      // a session reconfigured with a DIFFERENT granule commits next — group
      // numbers must still be computed in the STORED granule, or a
      // coincidental file-count match against a parent ref would record a
      // manifest whose file set is not the group's actual files
      spark.conf.set("graft.manifest.bucketsPerGroup", "16")
      val bucket = v1.files.head.bucket
      val removed = v1.files.filter(_.bucket == bucket).map(_.path).toSet
      val added = t.writeDataFiles(
        LakeTable.withBucket(df, Seq("k"), 32).filter(col(LakeTable.BucketCol) === bucket))
      val v2 = t.replaceFiles(v1, removed, added, None, Some(Epoch("t", -1, -1, Map.empty)))
      assert(v2.bucketsPerGroup === 4, "stored granule governs over the conf")
      assert(v2.manifests.size === 8)
      assert(v2.manifests.map(_.path).toSet.intersect(v1.manifests.map(_.path).toSet).size === 7)
      // a fresh reader (no caches) inflates exactly the file set the writer
      // committed — the corruption the granule persistence prevents
      val t2 = LakeTable(t.root)(spark)
      val reread = t2.snapshot(v2.version)
      assert(reread.files.map(_.path).sorted === v2.files.map(_.path).sorted)
      assert(reread.bucketsPerGroup === 4)
      assert(t2.read().count() === 2000)
    } finally spark.conf.unset("graft.manifest.bucketsPerGroup")
  }

  test("round-4 parent (manifests, no stored granule): refs are NOT reused; migration rewrites all") {
    spark.conf.set("graft.manifest.bucketsPerGroup", "4")
    try {
      val t = LakeTable(SparkTestBase.tmpDir("lake-r4mig"))(spark)
      t.create(schema, numBuckets = 32, appId = "t")
      val df = spark.range(2000).select(concat(lit("k"), col("id")).as("k"), col("id").as("v"))
      val v1 = t.overwrite(df, Seq("k"), "t")
      // rewrite snapshot-1 WITHOUT the bucketsPerGroup field — the round-4
      // persisted form (manifests present, granule unknown)
      val fs = t.fs
      val p = new org.apache.hadoop.fs.Path(t.root, "meta/snapshot-1.json")
      val raw = LakeTable.readString(fs, p)
      assert(raw.contains("bucketsPerGroup"))
      val legacy = raw.replaceAll(",?\\s*\"bucketsPerGroup\"\\s*:\\s*\\d+", "")
      fs.delete(p, false)
      val out = fs.create(p, true); out.write(legacy.getBytes("UTF-8")); out.close()
      // a session at a DIFFERENT granule commits: the parent's refs could be
      // grouped under any layout, so none may be reused — even ones whose
      // file count happens to match a new-layout group
      spark.conf.set("graft.manifest.bucketsPerGroup", "16")
      val t2 = LakeTable(t.root)(spark)
      val parent = t2.currentSnapshot.get
      assert(parent.bucketsPerGroup === 0 && parent.manifests.nonEmpty)
      val bucket = parent.files.head.bucket
      val removed = parent.files.filter(_.bucket == bucket).map(_.path).toSet
      val added = t2.writeDataFiles(
        LakeTable.withBucket(df, Seq("k"), 32).filter(col(LakeTable.BucketCol) === bucket))
      val v2 = t2.replaceFiles(parent, removed, added, None, Some(Epoch("t", -1, -1, Map.empty)))
      assert(v2.manifests.map(_.path).toSet.intersect(parent.manifests.map(_.path).toSet)
        === Set.empty, "round-4 refs must never be reused across an unknown granule")
      assert(v2.bucketsPerGroup === 16 && v2.manifests.size === 2) // 32 buckets / 16
      // the migrated snapshot's file list is exactly right
      val reread = LakeTable(t.root)(spark).snapshot(v2.version)
      assert(reread.files.map(_.path).sorted === v2.files.map(_.path).sorted)
      assert(LakeTable(t.root)(spark).read().count() === 2000)
    } finally spark.conf.unset("graft.manifest.bucketsPerGroup")
  }

  test("legacy inline-file snapshots read transparently and migrate on the next commit") {
    val t = LakeTable(SparkTestBase.tmpDir("lake-legacy"))(spark)
    t.create(schema, 4, "t")
    val df = Seq(("a", 1L), ("b", 2L)).toDF("k", "v")
    val v1 = t.overwrite(df, Seq("k"), "t")
    // rewrite snapshot-1 in the ROUND-3 format: file list inline, no manifests
    val fs = t.fs
    val p = new org.apache.hadoop.fs.Path(t.root, "meta/snapshot-1.json")
    fs.delete(p, false)
    val legacy = Snapshot(1L, 0L, v1.schemaJson, 4, v1.files, "t", -1L, -1L, Map.empty, Seq("k"))
    val out = fs.create(p, true)
    out.write(Snapshot.toJson(legacy).getBytes("UTF-8")); out.close()
    // fresh instance (no caches): legacy form reads
    val t2 = LakeTable(t.root)(spark)
    assert(t2.read().orderBy("k").as[(String, Long)].collect().toSeq ===
      Seq(("a", 1L), ("b", 2L)))
    assert(t2.currentSnapshot.get.manifests.isEmpty)
    // next commit migrates to the two-level form
    val v2 = t2.overwrite(Seq(("c", 3L)).toDF("k", "v"), Seq("k"), "t")
    assert(v2.manifests.nonEmpty)
    assert(t2.snapshot(2L).files.map(_.rows).sum === 1)
  }

  test("vacuum collects orphan manifests from lost commit races") {
    val t = LakeTable(SparkTestBase.tmpDir("lake-orph"))(spark)
    t.create(schema, 4, "t")
    val v1 = t.overwrite(Seq(("a", 1L)).toDF("k", "v"), Seq("k"), "t")
    // a loser of the commit CAS leaves its freshly-written manifest behind —
    // simulate the orphan directly
    val fs = t.fs
    val orphan = new org.apache.hadoop.fs.Path(t.root, "meta/manifest-orphan.json")
    val out = fs.create(orphan, true); out.write("[]".getBytes("UTF-8")); out.close()
    // age it explicitly: grace-0 still requires mtime STRICTLY before the
    // cutoff, and create + vacuum can land in the same millisecond (flake)
    fs.setTimes(orphan, System.currentTimeMillis() - 1000L, -1)
    t.vacuum(graceMs = 0L)
    assert(!fs.exists(orphan), "orphan manifest must be collected")
    // live manifests survive and the table still reads
    assert(t.currentSnapshot.get.manifests.forall(m =>
      fs.exists(new org.apache.hadoop.fs.Path(t.root, s"meta/${m.path}"))))
    assert(t.read().count() === 1)
  }

  test("vacuum removes only unreferenced files; time travel before, not after") {
    val t = LakeTable(SparkTestBase.tmpDir("lake-vac"))(spark)
    t.create(schema, 4, "t")
    t.overwrite(Seq(("a", 1L)).toDF("k", "v"), Seq("k"), "t")
    val v1files = t.currentSnapshot.get.files.map(_.path).toSet
    t.overwrite(Seq(("b", 2L)).toDF("k", "v"), Seq("k"), "t")
    // old snapshot still readable pre-vacuum
    assert(t.readAt(1).count() === 1)
    val removed = t.vacuum(graceMs = 0L) // test owns the table; no concurrent writer
    assert(removed === v1files.size)
    assert(t.read().as[(String, Long)].collect().toSeq === Seq(("b", 2L)))
  }

  test("time travel: versions/describe/readAt list and read retained history") {
    val t = LakeTable(SparkTestBase.tmpDir("lake-tt"))(spark)
    t.create(schema, 4, "t")
    t.overwrite(Seq(("a", 1L), ("b", 2L)).toDF("k", "v"), Seq("k"), "t") // v1
    // v2 appends one file (replaceFiles with nothing removed)
    val parent = t.currentSnapshot.get
    val added = t.writeDataFiles(
      LakeTable.withBucket(Seq(("c", 3L)).toDF("k", "v"), Seq("k"), 4))
    t.replaceFiles(parent, Set.empty, added, None, Some(Epoch("t", -1, -1, Map.empty)))
    assert(t.versions === List(0L, 1L, 2L))
    // readAt pins the older file state; current read sees all three rows
    assert(t.readAt(1).orderBy("k").as[(String, Long)].collect().toSeq ===
      Seq(("a", 1L), ("b", 2L)))
    assert(t.readAt(2).count() === 3)
    // describe = per-version stats from the raw record (manifest REFS carry
    // group totals; no manifest inflation, files stays empty)
    val d = t.describe(2)
    assert(d.files.isEmpty && d.manifests.map(_.rows).sum === 3)
    // expiring the horizon removes the version from the listing; the
    // retained head stays fully readable
    t.vacuum(graceMs = 0L, retainSnapshots = 1)
    assert(t.versions === List(2L))
    assert(t.read().count() === 3)
  }

  test("readAppends: rows in files added between two versions (incremental scan)") {
    val t = LakeTable(SparkTestBase.tmpDir("lake-incr"))(spark)
    t.create(schema, 4, "t")
    t.overwrite(Seq(("a", 1L), ("b", 2L)).toDF("k", "v"), Seq("k"), "t") // v1
    val parent = t.currentSnapshot.get
    val added = t.writeDataFiles(
      LakeTable.withBucket(Seq(("c", 3L), ("d", 4L)).toDF("k", "v"), Seq("k"), 4))
    t.replaceFiles(parent, Set.empty, added, None, Some(Epoch("t", -1, -1, Map.empty))) // v2
    assert(t.readAppends(1, 2).orderBy("k").as[(String, Long)].collect().toSeq ===
      Seq(("c", 3L), ("d", 4L)))
    // from = -1 means "since creation": everything in the to-version
    assert(t.readAppends(-1, 1).count() === 2)
    assert(t.readAppends(-1, 2).count() === 4)
    intercept[IllegalArgumentException] { t.readAppends(2, 2) }
    // a metadata-only commit adds no files → empty increment
    val wider = StructType(schema.fields :+ StructField("x", StringType, nullable = true))
    t.updateSchema(wider, "t") // v3
    assert(t.readAppends(2, 3).count() === 0)
  }

  test("readAppends opens only CHANGED groups' manifests (O(changed groups) metadata)") {
    spark.conf.set("graft.manifest.bucketsPerGroup", "4")
    try {
      val root = SparkTestBase.tmpDir("lake-incr-io")
      val t = LakeTable(root)(spark)
      t.create(schema, numBuckets = 32, appId = "t") // granule 4 → 8 possible groups
      // v1 populates only buckets < 16 (groups 0-3): groups 4-7 have no manifest
      val df = spark.range(2000).select(concat(lit("k"), col("id")).as("k"), col("id").as("v"))
      val base = LakeTable.withBucket(df, Seq("k"), 32)
        .filter(col(LakeTable.BucketCol) < 16).drop(LakeTable.BucketCol)
      val v1 = t.overwrite(base, Seq("k"), "t")
      assert(v1.manifests.size === 4)

      def appendBucket(parent: Snapshot, lo: Long, hi: Long, bucket: Int): Seq[(String, Long)] = {
        val rows = LakeTable.withBucket(
          spark.range(lo, hi).select(concat(lit("k"), col("id")).as("k"), col("id").as("v")),
          Seq("k"), 32).filter(col(LakeTable.BucketCol) === bucket)
        val expect = rows.orderBy("k").select("k", "v").as[(String, Long)].collect().toSeq
        assert(expect.nonEmpty)
        t.replaceFiles(parent, Set.empty, t.writeDataFiles(rows), None,
          Some(Epoch("t", -1, -1, Map.empty)))
        expect
      }
      // v2: first file of bucket 20 → group 5, which has NO parent manifest
      val expect2 = appendBucket(v1, 2000, 4000, bucket = 20)
      // v3: append into bucket 3 → group 0, which EXISTS on both sides
      val expect3 = appendBucket(t.snapshot(2), 4000, 6000, bucket = 3)

      // a FRESH reader per range (empty manifest cache — a new feed/stream
      // consumer process) must resolve each delta by loading only the changed
      // groups' manifests, never re-inflating all groups on both sides
      val r12 = LakeTable(root)(spark)
      assert(r12.readAppends(1, 2).orderBy("k").as[(String, Long)].collect().toSeq === expect2)
      assert(r12.manifestReads.get() <= 1, // new group: no from-side manifest at all
        s"v1→v2 touched ${r12.manifestReads.get()} manifests; want ≤1")
      val r23 = LakeTable(root)(spark)
      assert(r23.readAppends(2, 3).orderBy("k").as[(String, Long)].collect().toSeq === expect3)
      assert(r23.manifestReads.get() <= 2, // changed existing group: one per side
        s"v2→v3 touched ${r23.manifestReads.get()} manifests; want ≤2")
      // multi-group delta (groups 0 and 5 changed since v1) matches the
      // brute-force full path-set diff exactly
      val r13 = LakeTable(root)(spark)
      val brute = {
        val before = t.snapshot(1).files.map(_.path).toSet
        t.snapshot(3).files.filterNot(f => before.contains(f.path)).map(_.path).toSet
      }
      assert(r13.readAppends(1, 3).orderBy("k").as[(String, Long)].collect().toSeq ===
        (expect2 ++ expect3).sortBy(_._1))
      assert(r13.manifestReads.get() <= 3 && brute.size >= 2)
    } finally spark.conf.unset("graft.manifest.bucketsPerGroup")
  }

  test("a failed write job leaves data/ as it was") {
    val t = LakeTable(SparkTestBase.tmpDir("lake-abort"))(spark)
    t.create(schema, 4, "t")
    t.overwrite(Seq(("a", 1L)).toDF("k", "v"), Seq("k"), "t")
    val dataDir = new org.apache.hadoop.fs.Path(t.root, "data")
    def listing = t.fs.listStatus(dataDir).map(_.getPath.getName).sorted.toSeq
    val (before, version) = (listing, t.latestVersion)
    // two tasks, one bucket per id: the first commits the files of buckets
    // 0 and 1, the second has bucket 2's file open when it fails at id 3
    val failAt3 = udf { (id: Long) =>
      if (id == 3L) { Thread.sleep(1500); throw new IllegalStateException("fail at 3") }
      id
    }.asNondeterministic()
    val rows = spark.range(0, 4, 1, 2)
      .withColumn(LakeTable.BucketCol, col("id").cast("int"))
      .sortWithinPartitions(LakeTable.BucketCol)
      .withColumn("v", failAt3(col("id")))
    intercept[Exception](t.writeDataFiles(rows))
    assert(listing === before, "a failed write must leave no file in data/")
    assert(t.latestVersion === version)
  }

  test("written files carry the end of their write job as their vacuum grace clock") {
    val t = LakeTable(SparkTestBase.tmpDir("lake-touch"))(spark)
    t.create(schema, 4, "t")
    // four one-row tasks; the slow one keeps the job open 2 s after the
    // other three have closed their files
    val slow = udf { (id: Long) => if (id == 3L) Thread.sleep(2000); id }.asNondeterministic()
    val rows = spark.range(0, 4, 1, 4)
      .select(col("id").cast("int").as(LakeTable.BucketCol), slow(col("id")).as("v"))
    val start = System.currentTimeMillis()
    val files = t.writeDataFiles(rows)
    assert(files.map(_.bucket).sorted === Seq(0, 1, 2, 3) && files.forall(_.rows == 1))
    files.foreach { f =>
      val mtime = t.fs.getFileStatus(
        new org.apache.hadoop.fs.Path(t.root, s"data/${f.path}")).getModificationTime
      assert(mtime >= start + 1900,
        s"${f.path} was published ${mtime - start} ms into a 2 s write job")
    }
  }

  test("the data-file write ships no Hadoop configuration; task commits report exact bytes") {
    // every write task deserializes what the commit protocol and the stats
    // tracker serialize: a session Hadoop configuration is over 100 KB
    val dataDir = new org.apache.hadoop.fs.Path(SparkTestBase.tmpDir("lake-ship"), "data")
    val write = new graft.lake.LakeWrite(dataDir)
    def serializedBytes(o: AnyRef): Int = {
      val bytes = new java.io.ByteArrayOutputStream()
      val out = new java.io.ObjectOutputStream(bytes)
      out.writeObject(o)
      out.close()
      bytes.size
    }
    val asProtocol: org.apache.spark.internal.io.FileCommitProtocol = write
    val asTracker: org.apache.spark.sql.execution.datasources.WriteJobStatsTracker = write
    Seq("commit protocol" -> asProtocol, "stats tracker" -> asTracker).foreach { case (what, o) =>
      val n = serializedBytes(o)
      assert(n < 4096, s"the write's $what serializes to $n bytes")
    }
    // the bytes a task commit stats are the bytes on disk
    val t = LakeTable(SparkTestBase.tmpDir("lake-bytes"))(spark)
    t.create(schema, 4, "t")
    val files = t.writeDataFiles(spark.range(0, 400, 1, 2)
      .select((col("id") % 4).cast("int").as(LakeTable.BucketCol), col("id").as("v"))
      .repartition(2, col(LakeTable.BucketCol)))
    assert(files.map(_.bucket).sorted === Seq(0, 1, 2, 3) && files.map(_.rows).sum === 400)
    files.foreach { f =>
      assert(f.bytes === t.fs.getFileStatus(
        new org.apache.hadoop.fs.Path(t.root, s"data/${f.path}")).getLen, f.path)
    }
  }

  test("vacuum sweeps staging directories a crashed writer left behind") {
    val t = LakeTable(SparkTestBase.tmpDir("lake-stagegc"))(spark)
    t.create(schema, 4, "t")
    t.overwrite(Seq(("a", 1L)).toDF("k", "v"), Seq("k"), "t")
    // simulate a writer SIGKILLed between its parquet write and the finally:
    // a .staging-<uuid> dir with data parts remains under data/
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(new org.apache.hadoop.conf.Configuration())
    val dead = new org.apache.hadoop.fs.Path(s"${t.root}/data/.staging-deadbeef")
    fs.mkdirs(dead)
    LakeTable.writeString(fs, new org.apache.hadoop.fs.Path(dead, "part-0.parquet"), "x")
    // within the grace window the (possibly in-flight) staging dir survives
    t.vacuum(graceMs = 600000L)
    assert(fs.exists(dead), "grace window must protect an in-flight writer")
    // past the grace window it is dead weight and must be collected (aged
    // explicitly: mkdir + vacuum in the same millisecond would flake grace-0)
    fs.setTimes(dead, System.currentTimeMillis() - 1000L, -1)
    t.vacuum(graceMs = 0L)
    assert(!fs.exists(dead), "orphaned staging dir must be swept")
    assert(t.read().count() === 1) // live data untouched
  }

  test("version hint: stale, expired, corrupt and missing hints all resolve correctly") {
    val t = LakeTable(SparkTestBase.tmpDir("lake-hint"))(spark)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(new org.apache.hadoop.conf.Configuration())
    val hint = new org.apache.hadoop.fs.Path(s"${t.root}/meta/version-hint.text")
    t.create(schema, 4, "t")
    (1 to 4).foreach(_ => t.overwrite(Seq(("a", 1L)).toDF("k", "v"), Seq("k"), "t"))
    // the happy path: every commit refreshed the hint
    assert(LakeTable.readString(fs, hint).trim === "4")
    assert(t.latestVersion === 4L)
    // stale-LOW hint (writer crashed between publish and hint write, or a
    // racing commit landed since): the forward probe must correct it
    LakeTable.writeString(fs, hint, "1")
    assert(t.latestVersion === 4L)
    // corrupt hint: fall back to the listing, never to a wrong answer
    LakeTable.writeString(fs, hint, "not-a-number")
    assert(t.latestVersion === 4L)
    // missing hint (pre-hint table): the listing path
    fs.delete(hint, false)
    assert(t.latestVersion === 4L)
    // EXPIRED hint: vacuum retention deleted the hinted version's record —
    // its probe base is gone, so resolution falls back to the listing
    t.vacuum(graceMs = 0L, retainSnapshots = 2)
    LakeTable.writeString(fs, hint, "1") // version 1 no longer exists
    assert(t.versions === List(3L, 4L))
    assert(t.latestVersion === 4L)
    // and the next commit repairs the hint
    t.overwrite(Seq(("b", 2L)).toDF("k", "v"), Seq("k"), "t")
    assert(LakeTable.readString(fs, hint).trim === "5")
  }

  test("local metadata is written without checksum files; a hint Hadoop wrote is replaced readably") {
    val t = LakeTable(SparkTestBase.tmpDir("lake-nio-meta"))(spark)
    val fs = t.fs
    val meta = new org.apache.hadoop.fs.Path(s"${t.root}/meta")
    val hint = new org.apache.hadoop.fs.Path(meta, "version-hint.text")
    val hintCrc = new org.apache.hadoop.fs.Path(meta, ".version-hint.text.crc")
    t.create(schema, 4, "t")
    t.overwrite(Seq(("a", 1L)).toDF("k", "v"), Seq("k"), "t")
    assert(!fs.listStatus(meta).exists(_.getPath.getName.endsWith(".crc")))
    // a hint written through Hadoop's checksummed local filesystem, as an
    // older writer left it: its .crc no longer matches once the hint changes
    val out = fs.create(hint, true)
    try out.write("1".getBytes("UTF-8")) finally out.close()
    assert(fs.exists(hintCrc))
    t.overwrite(Seq(("b", 2L)).toDF("k", "v"), Seq("k"), "t")
    assert(!fs.exists(hintCrc))
    // the hint reads back (a stale .crc would fail this read, and with it
    // every hint probe of latestVersion)
    assert(LakeTable.readString(fs, hint).trim === "2")
    assert(t.latestVersion === 2L)
    // create-exclusive: the first writer wins, and missing parents are made
    val marker = new org.apache.hadoop.fs.Path(s"${t.root}/markers/m-1")
    assert(LakeTable.writeStringExclusive(fs, marker, "x"))
    assert(!LakeTable.writeStringExclusive(fs, marker, "y"))
    assert(LakeTable.readString(fs, marker) === "x")
  }

  private def fsckTable(prefix: String, rows: Int = 500): LakeTable = {
    val t = LakeTable(SparkTestBase.tmpDir(prefix))(spark)
    t.create(schema, 8, "t")
    def df(n: Int) = spark.range(n)
      .select(concat(lit("k"), col("id")).as("k"), col("id").as("v"))
    t.overwrite(df(rows / 2), Seq("k"), "t") // v1
    t.overwrite(df(rows), Seq("k"), "t")     // v2 — a chain to walk
    t
  }

  test("fsck: a healthy multi-version table passes, deep included") {
    val t = fsckTable("lake-fsck-ok")
    val r = graft.lake.Fsck(t, Seq("k"), deep = true)
    assert(r.ok, r.problems.mkString("; "))
    assert(r.versionsChecked === t.versions.size)
    assert(r.orphanDataFiles === 0,
      "every on-disk file is referenced by a retained snapshot")
    assert(r.deepRowsChecked === 500L)
    assert(r.filesChecked >= t.currentSnapshot.get.files.size)
  }

  test("fsck flags a referenced file deleted from disk") {
    val t = fsckTable("lake-fsck-del")
    val victim = t.currentSnapshot.get.files.head.path
    assert(t.fs.delete(new org.apache.hadoop.fs.Path(s"${t.root}/data/$victim"), false))
    val r = graft.lake.Fsck(t, Seq("k"))
    assert(r.problems.exists(p => p.contains("missing on disk") && p.contains(victim)))
  }

  test("fsck flags a data file whose on-disk size drifted from the manifest") {
    val t = fsckTable("lake-fsck-size")
    val victim = t.currentSnapshot.get.files.head.path
    val p = new org.apache.hadoop.fs.Path(s"${t.root}/data/$victim")
    // parquet files are immutable by contract; simulate rot by replacing
    // the content (append is unsupported on the checksummed local FS)
    val out = t.fs.create(p, true)
    try out.write(Array[Byte](1, 2, 3)) finally out.close()
    val r = graft.lake.Fsck(t, Seq("k"))
    assert(r.problems.exists(p => p.contains(victim) && p.contains("on disk")))
  }

  test("deep fsck flags rows living in a bucket their key does not hash to") {
    val t = fsckTable("lake-fsck-swap")
    val files = t.currentSnapshot.get.files.sortBy(_.path)
    val (a, b) = (files.head, files.find(_.bucket != files.head.bucket).get)
    // swap the two files' contents on disk: every row in each is now
    // misplaced relative to its manifest bucket — invisible to metadata
    // checks if sizes happened to match, caught by the distributed pass
    val (pa, pb, tmp) = (new org.apache.hadoop.fs.Path(s"${t.root}/data/${a.path}"),
      new org.apache.hadoop.fs.Path(s"${t.root}/data/${b.path}"),
      new org.apache.hadoop.fs.Path(s"${t.root}/data/_fsck_tmp"))
    assert(t.fs.rename(pa, tmp) && t.fs.rename(pb, pa) && t.fs.rename(tmp, pb))
    val r = graft.lake.Fsck(t, Seq("k"), deep = true)
    assert(r.problems.exists(_.contains("hashing to bucket")),
      r.problems.mkString("; "))
  }

  test("vacuum stands down (deletes nothing) when a retained manifest vanished under it") {
    val t = fsckTable("lake-vac-race")
    // simulate a concurrent maintenance run winning a race: a manifest a
    // RETAINED snapshot references is gone by the time this vacuum reads it
    // (vacuum on a FRESH instance — a warm manifest cache would mask the IO)
    val manifest = t.currentSnapshot.get.manifests.head.path
    assert(t.fs.delete(new org.apache.hadoop.fs.Path(
      s"${t.root}/meta/$manifest"), false))
    val cold = LakeTable(t.root)(spark)
    val dataBefore = t.fs.listStatus(
      new org.apache.hadoop.fs.Path(s"${t.root}/data")).length
    assert(cold.vacuum(graceMs = 0L, retainSnapshots = 2) === 0,
      "losing the race must stand down, not crash or mis-delete")
    assert(t.fs.listStatus(
      new org.apache.hadoop.fs.Path(s"${t.root}/data")).length === dataBefore)
  }

  test("fsck CLI verb: OK on a healthy table, loud failure on a corrupted one") {
    val t = fsckTable("lake-fsck-cli")
    Main.run(spark, List("fsck", t.root, "deep")) // must not throw
    assert(t.fs.delete(new org.apache.hadoop.fs.Path(
      s"${t.root}/data/${t.currentSnapshot.get.files.head.path}"), false))
    val e = intercept[RuntimeException] { Main.run(spark, List("fsck", t.root)) }
    assert(e.getMessage.contains("fsck found"))
  }
}
