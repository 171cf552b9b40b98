package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.cdc.{CdcPipeline, Compaction, Dedup, SchemaEvolution}
import graft.lake.LakeTable
import graft.model.CdcModel

/** Property tests from SURVEY.md §5: (a) replay from any batch split
  * reproduces an identical final digest (exactly-once), (b) event
  * permutations preserve the LWW result, (c) every path that picks LWW
  * winners picks the same ones, (d) schema evolution never loses columns.
  * ScalaCheck generators sampled with fixed seeds (deterministic, no
  * scalatestplus bridge needed); small workloads — the point is the
  * invariant, not scale. */
case class Ev(lsn: Long, op: String, repo: String, path: String,
    commit: String, lang: String, content: String,
    eventTime: java.sql.Timestamp)

class PropertySpec extends SparkSuite {
  import spark.implicits._

  private val genEvent: Gen[Ev] = for {
    lsn <- Gen.chooseNum(0L, 60L) // tight range → plenty of LSN collisions
    op <- Gen.frequency(4 -> "I", 4 -> "U", 2 -> "D")
    key <- Gen.chooseNum(0, 15)
    content <- Gen.alphaStr.map(_.take(12))
  } yield Ev(lsn, op, s"r${key % 4}", s"p$key", f"c$key%02d", "scala",
    if (op == "D") "" else s"$content-$lsn",
    new java.sql.Timestamp(1704067200000L + lsn * 1000))

  private def sample[T](g: Gen[T], seed: Long): T =
    g.pureApply(Gen.Parameters.default, Seed(seed))

  private def digestOf(df: DataFrame): Seq[Row] =
    df.select(col("repo"), col("path"), col("commit"),
      sha2(coalesce(col("content"), lit("")), 256).as("sha"))
      .orderBy("repo", "path", "commit").collect().toSeq

  private def replayDigest(events: Seq[Ev], batches: Int): Seq[Row] = {
    val root = SparkTestBase.tmpDir("prop-cdc")
    val p = new CdcPipeline(LakeTable(root)(spark), s"prop-$batches")
    p.bootstrap(numBuckets = 8)
    if (events.nonEmpty) p.replay(events.toDF(), batches)
    digestOf(p.state())
  }

  test("gate registry: every query has an oracle and every oracle a query") {
    // the driver records a weaker rows-only check for a query without an
    // oracle, and an orphan oracle is dead SQL — keep the two maps in
    // lockstep so coverage can't silently decay
    assert(SparkEntry.oracleSql.keySet === SparkEntry.queries.keySet)
    assert(SparkEntry.oracleSql.values.forall(_.trim.nonEmpty))
  }

  test("property: clusters equals brute-force connected components on random graphs") {
    // deterministic random edge sets; oracle = in-memory union-find
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 8) {
      val n = 5 + rnd.nextInt(30)
      val m = rnd.nextInt(2 * n)
      val edges = Seq.fill(m) {
        val a = rnd.nextInt(n).toLong; val b = rnd.nextInt(n).toLong
        if (a < b) (a, b) else (b, a)
      }.filter(e => e._1 != e._2).distinct
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { if (parent(x) != x) parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
        .map(v => (v, find(v.toInt).toLong))
      val got =
        if (edges.isEmpty) Seq.empty
        else graft.operators.DedupOps.clusters(edges.toDF("a", "b"))
          .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got === want, s"trial $trial: n=$n edges=$edges")
    }
  }

  test("property: final state is independent of the batch split (exactly-once replay)") {
    (1 to 4).foreach { seed =>
      val events = sample(Gen.listOfN(60, genEvent), seed)
      val d1 = replayDigest(events, 1)
      assert(replayDigest(events, 3) === d1, s"seed=$seed split=3")
      assert(replayDigest(events, 5) === d1, s"seed=$seed split=5")
    }
  }

  test("property: permuting event order never changes the LWW result") {
    (10 to 13).foreach { seed =>
      val events = sample(Gen.listOfN(40, genEvent), seed)
      val d1 = replayDigest(events, 2)
      val shuffled = new scala.util.Random(seed).shuffle(events)
      assert(replayDigest(shuffled, 2) === d1, s"seed=$seed")
    }
  }

  test("property: every winner-picking path keeps the same live rows") {
    (20 to 23).foreach { seed =>
      val drawn = sample(Gen.listOfN(60, genEvent), seed)
      // same-LSN, same-content twins that differ only in I-versus-U: a full
      // tie of the order, which must not depend on the op
      val twins = drawn.filter(_.op != "D").take(8)
        .map(e => e.copy(op = if (e.op == "I") "U" else "I"))
      val events = (drawn ++ twins).toDF()
      val want = digestOf(Dedup.lastWriterWins(events).filter(col("op") =!= "D"))
      val t = LakeTable(SparkTestBase.tmpDir("prop-lww"))(spark)
      val p = new CdcPipeline(t, s"prop-lww-$seed", mergeOnRead = true, compactEveryFiles = 0)
      p.bootstrap(numBuckets = 8)
      p.replay(events, 3)
      assert(t.currentSnapshot.get.files.groupBy(_.bucket).values.exists(_.size > 1),
        s"seed=$seed: the replay must leave multi-generation buckets")
      assert(digestOf(CdcPipeline.liveState(t)) === want, s"seed=$seed: merge-on-read replay")
      Compaction(t, -1L, maxFilesPerBucket = 1)
      assert(digestOf(CdcPipeline.liveState(t)) === want, s"seed=$seed: compaction")
      t.rebucket(5, CdcModel.KeyCols)
      assert(digestOf(CdcPipeline.liveState(t)) === want, s"seed=$seed: rebucket")
      // a salted merge splits each bucket's keys over several tasks
      val salted = LakeTable(SparkTestBase.tmpDir("prop-lww-salt"))(spark)
      val sp = new CdcPipeline(salted, s"prop-lww-salt-$seed")
      sp.bootstrap(numBuckets = 8)
      spark.conf.set("graft.merge.salt", "3")
      try sp.replay(events, 3)
      finally spark.conf.unset("graft.merge.salt")
      assert(digestOf(CdcPipeline.liveState(salted)) === want, s"seed=$seed: salted merge")
    }
  }

  test("property: schema merge never drops columns and widen is commutative") {
    val types = Gen.oneOf[DataType](IntegerType, LongType, FloatType, DoubleType,
      StringType, DecimalType(10, 2), DecimalType(18, 4))
    val genSchema = Gen.listOfN(4, Gen.zip(Gen.oneOf("a", "b", "c", "d", "e"), types))
      .map(fs => StructType(fs.distinctBy(_._1).map { case (n, t) => StructField(n, t) }))
    (100 to 140).foreach { seed =>
      val s1 = sample(genSchema, seed)
      val s2 = sample(genSchema, seed * 7 + 1)
      try {
        val m = SchemaEvolution.merge(s1, s2)
        val names = m.fieldNames.map(_.toLowerCase).toSet
        assert(s1.fieldNames.forall(n => names.contains(n.toLowerCase)), s"seed=$seed")
        assert(s2.fieldNames.forall(n => names.contains(n.toLowerCase)), s"seed=$seed")
        s1.fields.foreach { f1 =>
          s2.fields.find(_.name == f1.name).foreach { f2 =>
            assert(SchemaEvolution.widen(f1.dataType, f2.dataType) ===
              SchemaEvolution.widen(f2.dataType, f1.dataType), s"seed=$seed ${f1.name}")
          }
        }
      } catch {
        case e: IllegalArgumentException =>
          assert(e.getMessage.contains("incompatible")) // loud, typed failure is OK
      }
    }
  }
}
