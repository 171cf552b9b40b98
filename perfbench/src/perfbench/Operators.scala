package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.SparkEntry

/** Seeded generator of the operator inputs, shaped like the repository's
  * test tables: `documents` (word-salad text over a small vocabulary, a
  * language label with that language's function words mixed in, and a
  * share of near-duplicates) and `embeddings` (64-d vectors around ten
  * cluster centres). */
object OperatorData {
  private val vocab = Seq("spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash", "customer", "sort",
    "order", "slow", "line", "part", "fast", "row", "the", "agg", "key", "query", "a",
    "scan", "batch")
  private val function = Map(
    "en" -> Seq("the", "and", "of", "is", "with"),
    "de" -> Seq("der", "die", "und", "das", "nicht"),
    "es" -> Seq("el", "la", "que", "los", "para"),
    "fr" -> Seq("le", "et", "les", "pour", "dans"),
    "zh" -> Seq.empty[String])
  private val langs = Seq("en", "en", "en", "de", "es", "fr", "zh")

  def write(spark: SparkSession, dir: String, docs: Int, vecs: Int, seed: Long): Unit = {
    val rng = new java.util.Random(seed)
    val texts = mutable.ArrayBuffer[String]()
    val docRows = (0 until docs).map { i =>
      val lang = langs(rng.nextInt(langs.size))
      val text =
        if (i > 0 && rng.nextDouble() < 0.05) texts(rng.nextInt(texts.size)) + " dup"
        else {
          val n = 8 + rng.nextInt(72)
          val fw = function(lang)
          (0 until n).map { _ =>
            if (fw.nonEmpty && rng.nextDouble() < 0.15) fw(rng.nextInt(fw.size))
            else vocab(rng.nextInt(vocab.size))
          }.mkString(" ")
        }
      texts += text
      Row(i.toLong, text, lang, s"src${i % 20}", text.length.toLong)
    }
    val docSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    spark.createDataFrame(docRows.asJava, docSchema).coalesce(1)
      .write.parquet(s"$dir/documents.parquet")

    val dim = 64
    val centres = Array.fill(10, dim)(rng.nextGaussian() * 0.15)
    val vecRows = (0 until vecs).map { i =>
      val c = rng.nextInt(centres.length)
      val v = centres(c).map(x => (x + rng.nextGaussian() * 0.08).toFloat)
      Row(i.toLong, v.toSeq, c)
    }
    val vecSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType)))
    spark.createDataFrame(vecRows.asJava, vecSchema).coalesce(1)
      .write.parquet(s"$dir/embeddings.parquet")
  }
}

/** The training-data operator queries of `SparkEntry.queries`. A round is
  * one pass over all of them; outputs are checked against the DuckDB oracle
  * afterwards. */
final class OperatorSuite(ctx: Ctx) extends Workload(ctx) {
  private val docs = 1000
  private val vecs = 600
  /** (query, layer, input rows it reads). */
  private val suite = Seq(
    ("dedup_minhash_lsh", "operators", math.min(docs, 500)),
    ("dedup_clusters", "operators", math.min(docs, 500)),
    ("dedup_simhash", "operators", math.min(docs, 500)),
    ("dedup_embedding_cosine", "operators", vecs),
    ("ann_topk_cosine", "operators", vecs),
    ("text_langid", "functions", docs),
    ("text_quality", "functions", docs))
  def perSecond: Double = 0.125 // passes
  private var dir: String = _
  private var passes = 0
  private var loopStartMs = 0.0
  private val passMs = mutable.ArrayBuffer[Double]()

  private val warmDir = ctx.dir("ops-warm-input")

  /** Small inputs for the warm-up pass: the same query plans, so code
    * generation and JIT compilation happen before the measured passes. */
  def prepare(): Unit = OperatorData.write(spark, warmDir, 120, 80, ctx.seed + 1)

  def setup(i: Int): Unit = {
    if (dir != null) ctx.delete(dir)
    dir = ctx.dir(s"ops-input-$i")
    OperatorData.write(spark, dir, docs, vecs, ctx.seed)
  }

  private val outDir = s"${ctx.conf.out}/operator_outputs"

  /** One pass over the suite over `input`, each query's rows written to
    * Parquet: every column is computed, and the last pass's outputs are
    * what run.py compares with the DuckDB oracle. */
  private def pass(input: String, output: String): Double = {
    val t0 = Clock.nowMs
    suite.foreach { case (q, layer, rows) =>
      val (_, ms) = op(trace.timed(s"$layer.$q", layer) {
        SparkEntry.queries(q)(spark, input).write.mode("overwrite").parquet(s"$output/$q")
      })
      latMs += ms
      items += rows
    }
    Clock.nowMs - t0
  }

  override def warm(): Unit = {
    pass(warmDir, ctx.dir("ops-warm-output"))
    latMs.clear()
    items = 0
  }

  def loop(): Unit = {
    loopStartMs = Clock.nowMs
    measured {
      (0 until planned).foreach { _ => passMs += pass(dir, outDir); passes += 1 }
    }
    out.detail("passes") = passes
    out.detail("suite_s_p50") = Stats.median(passMs.toSeq) / 1e3
  }

  def verify(): Unit = {
    out.detail("operator_inputs") = dir
    out.detail("operator_outputs") = outDir
    out.detail("operator_queries") = suite.map(_._1)
  }

  def layers(): Unit = {
    val all = trace.allSpans.filter(_.startMs >= loopStartMs)
    suite.foreach { case (q, layer, _) =>
      out.layer(s"$layer.${q}_s") = Stats.median(all.filter(_.name == s"$layer.$q").map(_.durMs)) / 1e3
    }
    val names = suite.map { case (q, layer, _) => s"$layer.$q" }.toSet
    val shuffle = all.filter(s => names.contains(s.name))
      .flatMap(trace.jobsOf).map(_.shuffleWriteBytes.toDouble).sum
    out.layer("operators.shuffle_bytes") = shuffle / math.max(1, passes)
  }
}
