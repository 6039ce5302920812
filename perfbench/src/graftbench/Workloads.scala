package graftbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

import graft.{SparkEntry, Tables}
import graft.functions.{TextOps, VectorOps}
import graft.ml.OutcomePipeline
import graft.operators.{Dedup, Similarity}
import graft.streaming.CorpusIngest

/** An op's checked output: the collected rows and their schema. */
final case class Output(rows: Array[Row], schema: StructType)

/** One timed call. `name` is the op type that metrics group by; a
  * maintenance op type runs on a different batch each cycle. `oracle`
  * is the DuckDB SQL its output is checked against, when it has one. */
final case class Op(name: String, kind: String, run: () => Option[Output],
    oracle: Option[String] = None, userBytes: () => Long = () => 0L)

/** A workload: warm-up work (counted in `setup_s`), the seeded op order
  * of each pass, and post-run checks and quality figures (outside both
  * the timed ops and `setup_s`). */
trait Workload {
  def opNames: Seq[String]
  def pass(p: Int): Seq[Op]
  def finish(): Map[String, Any] = Map.empty
  /** Op types whose every sample fails when a post-run check fails. */
  def failedOps: Set[String] = Set.empty
  /** Independent units of warm-up work, run on nproc concurrent
    * client threads before the timed passes: they pay the one-off JIT,
    * codegen and footer-cache costs of every op at once. */
  def warmup(): Seq[() => Unit]
  /** Nominal wall of one timed pass on the 4-core reference box; sets
    * the pass count for a given `--seconds`. */
  def passSeconds: Double
  /** Index of the first timed pass (passes before it ran in warm-up). */
  def firstTimedPass: Int = 0
  /** Figures too costly for every run, computed in traced runs only. */
  def traceOnly(): Map[String, Any] = Map.empty
  /** A second workload whose layers this one does not reach, run by
    * traced runs after the timed passes (per-layer figures only). */
  def probe: Option[Workload] = None
}

object Workloads {
  /** The query subsets each workload times; see the README for why
    * these and not every declared query. */
  val AnalyticsQueries = Seq("q02_type_rollup", "q05_dashboard_extract",
    "q06_star_features", "q08_cooccurrence", "q29_kda_weights",
    "q31_encode_ladders", "q32_widekey_fanout")
  val CurationQueries = Seq("q17_dedup_exact", "q20_ngram_jaccard", "q21_minhash_lsh",
    "q22_simhash", "q36_winnow_fingerprints", "q42_dedup_clusters", "q47_contamination",
    "q69_text_clean", "q72_split_leakage", "q34_ann_ivf", "q89_ann_pq")
  val LifecycleQueries = Seq("q78_postings_roll")

  /** A query workload's warm-up units: each op once. */
  def queryWarmup(w: Workload): Seq[() => Unit] = w.pass(0).map(op => () => { op.run(); () })

  def shuffled[T](xs: Seq[T], seed: Long, p: Int): Seq[T] =
    new Random(seed * 1000003L + p).shuffle(xs)

  def queryOp(spark: SparkSession, dir: String, tracer: Tracer, name: String,
      kind: String = "read"): Op =
    Op(name, kind, () => {
      val df = tracer.span("jobs.build")(SparkEntry.queries(name)(spark, dir))
      val rows = tracer.span("exec.collect")(df.collect())
      Some(Output(rows, df.schema))
    }, SparkEntry.oracleSql.get(name))
}

/** The BI/ML surface: relational, event, AACT and pipeline queries plus
  * the C4 outcome classifier at its pinned seed. */
final class Analytics(spark: SparkSession, dir: String, work: String, tracer: Tracer,
    seed: Long) extends Workload {
  import Workloads._
  val MlOp = "ml.train_eval"
  var mlAccuracy = Double.NaN
  def opNames: Seq[String] = AnalyticsQueries :+ MlOp
  def passSeconds = 5.0
  def warmup(): Seq[() => Unit] = queryWarmup(this)

  private val mlSchema = StructType(Seq(StructField("accuracy", DoubleType),
    StructField("train", LongType), StructField("validate", LongType),
    StructField("test", LongType)))

  private def trainEval(): Option[Output] = {
    val (acc, (a, b, c)) =
      if (!tracer.enabled) OutcomePipeline.trainEval(spark, dir, 42L)
      else {
        // same computation as trainEval, split so fit and eval get spans
        val f = tracer.span("ml.fit")(OutcomePipeline.fit(spark, dir, 42L))
        tracer.span("ml.eval") {
          val pred = f.model.transform(f.prep.transform(f.test))
          val acc = new org.apache.spark.ml.evaluation.MulticlassClassificationEvaluator()
            .setLabelCol("label").setPredictionCol("prediction").setMetricName("accuracy")
            .evaluate(pred)
          (acc, (f.train.count(), f.validate.count(), f.test.count()))
        }
      }
    mlAccuracy = acc
    Some(Output(Array(Row(acc, a, b, c)), mlSchema))
  }

  def pass(p: Int): Seq[Op] = shuffled(
    AnalyticsQueries.map(queryOp(spark, dir, tracer, _)) :+ Op(MlOp, "read", () => trainEval()),
    seed, p)

  override def finish(): Map[String, Any] = Map("quality" -> Map("ml_accuracy" -> mlAccuracy))
  override lazy val probe: Option[Workload] =
    Some(new Maintenance(spark, dir, s"$work/probe", tracer, seed))
}

/** Corpus curation: document and embedding queries that write no
  * artifact, plus the tracked IVF / PQ / IVF-PQ recall figures. */
final class Curation(spark: SparkSession, dir: String, tracer: Tracer, seed: Long)
    extends Workload {
  import Workloads._
  def opNames: Seq[String] = CurationQueries
  def passSeconds = 5.8
  def warmup(): Seq[() => Unit] = queryWarmup(this)
  def pass(p: Int): Seq[Op] = shuffled(CurationQueries.map(queryOp(spark, dir, tracer, _)), seed, p)

  override def traceOnly(): Map[String, Any] = {
    val emb = Tables.load(spark, dir, "embeddings")
    val ivf = Similarity.ivfRecallAtK(emb, numCells = 32, probes = 12, k = 10,
      trainFraction = 0.25)
    val pqCs = Similarity.fitPqCodebooks(emb, m = 8, k = 256, iters = 10)
    val pq = Similarity.pqRecallAtK(emb, pqCs, k = 10, fetch = 100)
    val cents = Similarity.fitIvfIndex(emb, 32, trainFraction = 0.25)
      .clusterCenters.map(_.toArray)
    val cs = Similarity.fitPqCodebooksResidual(emb, cents, m = 8, k = 256, iters = 10)
    val ivfPq = Similarity.ivfPqRecallAtK(emb, lit(true),
      Similarity.centroidTableOf(spark, cents), cs, probes = 12, k = 10, fetch = 100)
    Map("quality" -> Map("ivf_recall_at_10" -> ivf, "pq_recall_at_10" -> pq,
      "ivfpq_recall_at_10" -> ivfPq), "kernels" -> Kernels.measure(spark, dir))
  }
}

/** Index-artifact maintenance: exact / minhash / winnow artifacts built
  * over a seeded share of `documents`, then ingest cycles over seeded
  * batches of the rest, with redelivery and compaction on a fixed
  * cadence, plus postings lifecycle queries as write ops. */
final class Maintenance(spark: SparkSession, dir: String, work: String, tracer: Tracer,
    seed: Long) extends Workload {
  import Maintenance._
  import Workloads._
  private val root = s"$work/maint"
  private val exactPath = s"$root/exact"
  private val bloomPath = s"$root/exact_bloom"
  private val corpusPath = s"$root/exact_corpus"
  private val streamIn = s"$root/stream_in"
  private val streamCkpt = s"$root/stream_ckpt"
  private val mhPath = s"$root/minhash"
  private val wnPath = s"$root/winnow"
  private val families = Seq("exact" -> exactPath, "minhash" -> mhPath, "winnow" -> wnPath)

  def opNames: Seq[String] =
    (for (f <- families.map(_._1); a <- Seq("screen", "append", "redeliver", "compact"))
      yield s"$f.$a") ++ LifecycleQueries
  def passSeconds = 8.0
  override def failedOps: Set[String] = badFamilies.flatMap(f => opNames.filter(_.startsWith(f + ".")))
  private var badFamilies = Set.empty[String]

  private var base: Seq[Row] = Nil
  private var batches: Seq[Seq[Row]] = Nil
  // rows each family has been asked to ingest, for the rebuild check
  private val ingested = scala.collection.mutable.Map("exact" -> Seq.empty[Row],
    "minhash" -> Seq.empty[Row], "winnow" -> Seq.empty[Row])
  private val keptOf = scala.collection.mutable.Map.empty[Int, Seq[Row]]
  val triggerMs = scala.collection.mutable.ArrayBuffer.empty[Double]

  private def frame(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), DocSchema)
  private def bytesOf(rows: Seq[Row]): Long = rows.map(_.getString(1).getBytes("UTF-8").length.toLong).sum

  /** Seeded split and the three artifact builds; runs in the first
    * warm-up unit, beside the warm-up queries. */
  private def build(): Unit = {
    val docs = Tables.load(spark, dir, "documents").select("doc_id", "text").collect()
      .sortBy(_.getLong(0))
    val (b, bs) = split(docs.toSeq, seed)
    base = b; batches = bs
    val baseDf = frame(base)
    val idx = Dedup.exactHashIndex(baseDf)
    Dedup.saveExactIndex(idx, exactPath)
    Dedup.exactIndexBloom(idx, expectedItems = 2L * docs.length)
      .write.mode("overwrite").parquet(bloomPath)
    Dedup.saveMinhashIndex(MinhashBuild(baseDf), mhPath)
    Dedup.saveWinnowIndex(WinnowBuild(baseDf), wnPath)
  }

  /** One exact-family ingest trigger: the batch lands as one new file
    * in the stream's source directory and one AvailableNow trigger of
    * the parquet exact-dedup ingest stream consumes it. */
  private def streamTrigger(rows: Seq[Row]): Unit = {
    frame(rows).coalesce(1).write.mode("append").parquet(streamIn)
    val src = spark.readStream.schema(DocSchema).parquet(streamIn)
    val q = CorpusIngest.parquetExactDedupIngest(src, exactPath, bloomPath, corpusPath)
      .option("checkpointLocation", streamCkpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    q.recentProgress.filter(_.numInputRows > 0).foreach { pr =>
      triggerMs += pr.durationMs.get("triggerExecution").toDouble
    }
  }

  private def cycle(rows: Seq[Row], batchId: Int): Seq[Op] = {
    val df = frame(rows)
    val screens = Seq(
      Op("exact.screen", "read", () => {
        val k = tracer.span("dedup.exact.screen")(
          Dedup.dedupAgainstIndex(df, Dedup.readExactIndex(spark, exactPath))
            .select("doc_id", "text").collect())
        keptOf(batchId) = k.toSeq.sortBy(_.getLong(0))
        None
      }),
      Op("minhash.screen", "read", () => {
        tracer.span("dedup.minhash.screen")(
          Dedup.nearDupAgainstArtifact(spark, mhPath, df, threshold = 0.4).collect())
        None
      }),
      Op("winnow.screen", "read", () => {
        tracer.span("dedup.winnow.screen")(
          Dedup.contaminationAgainstArtifact(spark, wnPath, df, maxDF = 100, minShared = 2)
            .collect())
        None
      }))
    def appends(tag: String, id: Int, r: Seq[Row]) = Seq(
      Op(s"exact.$tag", "write", () => {
        tracer.span("dedup.exact.append")(streamTrigger(r))
        ingested("exact") ++= r
        None
      }, userBytes = () => bytesOf(r)),
      Op(s"minhash.$tag", "write", () => {
        val k = keptOf.getOrElse(id, r)
        tracer.span("dedup.minhash.append")(Dedup.appendMinhashIndexDelta(spark, mhPath, frame(k)))
        ingested("minhash") ++= k
        None
      }, userBytes = () => bytesOf(keptOf.getOrElse(id, r))),
      Op(s"winnow.$tag", "write", () => {
        val k = keptOf.getOrElse(id, r)
        tracer.span("dedup.winnow.append")(Dedup.appendWinnowIndexDelta(spark, wnPath, frame(k)))
        ingested("winnow") ++= k
        None
      }, userBytes = () => bytesOf(keptOf.getOrElse(id, r))))
    val redeliver =
      appends("redeliver", math.max(0, batchId - 1), batches(math.max(0, batchId - 1)))
    val compact = Seq(
      Op("exact.compact", "write", () => {
        tracer.span("dedup.exact.compact")(Dedup.compactExactIndex(spark, exactPath)); None
      }),
      Op("minhash.compact", "write", () => {
        tracer.span("dedup.minhash.compact")(Dedup.compactMinhashIndex(spark, mhPath)); None
      }),
      Op("winnow.compact", "write", () => {
        tracer.span("dedup.winnow.compact")(Dedup.compactWinnowIndex(spark, wnPath)); None
      }))
    screens ++ appends("append", batchId, rows) ++ redeliver ++ compact
  }

  /** Warm-up: the artifact builds and pass 0 of this workload, beside
    * two runs each of the declared artifact-lifecycle queries, which
    * take the same build / screen / append / compact code paths on
    * their own temporary artifacts. Timed passes start at pass 1. */
  def warmup(): Seq[() => Unit] =
    (() => { build(); pass(0).foreach(_.run()) }) +: (WarmupQueries ++ WarmupQueries).map { q =>
      () => { SparkEntry.queries(q)(spark, dir).collect(); () }
    }
  override def firstTimedPass: Int = 1

  /** Pass p is one ingest cycle on batch p plus the lifecycle queries,
    * in the seeded order of [[Maintenance.order]]. */
  def pass(p: Int): Seq[Op] = {
    require(p < batches.size, s"out of ingest batches after $p cycles")
    val ops = (cycle(batches(p), p) ++
      LifecycleQueries.map(queryOp(spark, dir, tracer, _, kind = "write"))).map(o => o.name -> o).toMap
    order(seed, p).map(ops)
  }

  /** (bytes of every file, count of live data files) under `path`. */
  private def dirBytes(path: String): (Long, Int) = {
    val files = Option(new java.io.File(path)).toSeq.flatMap(walk)
    (files.map(_.length).sum, files.count(_.getName.startsWith("part-")))
  }
  private def walk(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
    else if (f.isFile) Seq(f) else Nil
  /** Files left in stale staging siblings (`<artifact>__delta_*`). */
  private def siblingDebt(path: String): Int = {
    val parent = new java.io.File(path).getParentFile
    val name = new java.io.File(path).getName
    Option(parent.listFiles).toSeq.flatten
      .filter(_.getName.startsWith(name + "__")).flatMap(walk).size
  }

  private def sameRows(a: DataFrame, b: DataFrame): Boolean = {
    val x = a.distinct(); val y = b.distinct()
    x.exceptAll(y).isEmpty && y.exceptAll(x).isEmpty
  }

  /** Space amplification against from-scratch builds of the same rows,
    * then append≡rebuild per family after a final compaction. */
  override def finish(): Map[String, Any] = {
    val live = families.map { case (f, path) => f -> dirBytes(path) }.toMap
    val retired = families.map { case (f, path) => f -> siblingDebt(path) }.toMap
    val scratch = s"$root/rebuild"
    def rows(f: String) = frame((base ++ ingested(f)).groupBy(_.getLong(0)).values.map(_.head)
      .toSeq.sortBy(_.getLong(0)))
    // per family, concurrently: from-scratch build of the same rows,
    // compaction of the live artifact, read-back ≡ rebuild
    def check(f: String): (Long, Boolean) = {
      val out = s"$scratch/$f"
      val same = f match {
        case "exact" =>
          val fresh = Dedup.exactHashIndex(rows(f))
          Dedup.saveExactIndex(fresh, out)
          Dedup.compactExactIndex(spark, exactPath)
          sameRows(Dedup.readExactIndex(spark, exactPath), fresh)
        case "minhash" =>
          val fresh = MinhashBuild(rows(f))
          Dedup.saveMinhashIndex(fresh, out)
          Dedup.compactMinhashIndex(spark, mhPath)
          sameRows(Dedup.readMinhashIndex(spark, mhPath), fresh)
        case "winnow" =>
          val fresh = WinnowBuild(rows(f))
          Dedup.saveWinnowIndex(fresh, out)
          Dedup.compactWinnowIndex(spark, wnPath)
          val cols = Seq("doc_id", "fingerprint", "df")
          sameRows(Dedup.readWinnowIndex(spark, wnPath).select(cols.map(col): _*),
            fresh.select(cols.map(col): _*))
      }
      (dirBytes(out)._1, same)
    }
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val results = Await.result(Future.sequence(families.map(_._1).map(f =>
      Future(f -> check(f)))), scala.concurrent.duration.Duration(300, "s")).toMap
    val fresh = results.map { case (f, r) => f -> r._1 }
    val checks = results.map { case (f, r) => f -> r._2 }
    badFamilies = checks.filter(!_._2).keySet
    Map(
      "append_equals_rebuild" -> checks,
      "artifact_bytes" -> live.map { case (f, v) => f -> v._1 },
      "rebuild_bytes" -> fresh,
      "space_amp" -> live.values.map(_._1).sum.toDouble / fresh.values.sum,
      "files_live" -> live.values.map(_._2).sum,
      "files_retired" -> retired.values.sum,
      "trigger_ms" -> triggerMs.toSeq,
      "batch_docs" -> batches.headOption.map(_.size).getOrElse(0),
      "base_docs" -> base.size)
  }
}

object Maintenance {
  val BaseShare = 0.6
  val BatchDocs = 24
  val WarmupQueries = Seq("q84_exact_index_artifact", "q85_winnow_index_artifact",
    "q86_winnow_screen_artifact", "q87_minhash_index_artifact", "q78_postings_roll")
  val DocSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text",
    org.apache.spark.sql.types.StringType)))

  private def ops(action: String) = Seq("exact", "minhash", "winnow").map(f => s"$f.$action")

  /** Op order of pass p: compaction of what the previous cycle left,
    * the three screens, the three appends (they use the exact screen's
    * kept rows), redelivery of the previous batch (of batch 0 itself in
    * pass 0), each group in seeded
    * order; each lifecycle query at a seeded place before or after. */
  def order(seed: Long, p: Int): Seq[String] = {
    val s = seed * 7919L + p
    val cycle = Workloads.shuffled(ops("compact"), s, 0) ++ Workloads.shuffled(ops("screen"), s, 1) ++
      Workloads.shuffled(ops("append"), s, 2) ++
      Workloads.shuffled(ops("redeliver"), s, 3)
    val rng = new Random(seed * 31L + p)
    val (before, after) = Workloads.LifecycleQueries.partition(_ => rng.nextBoolean())
    before ++ cycle ++ after
  }

  def MinhashBuild(df: DataFrame): DataFrame =
    Dedup.minhashBandIndex(df, k = 5, numHashes = 32, bands = 8, hashedShingles = true)
  def WinnowBuild(df: DataFrame): DataFrame = Dedup.winnowIndex(df, k = 3, w = 4, algo = "md5_60")

  /** Seeded split of the documents into the standing base and the
    * ingest batches. */
  def split[T](docs: Seq[T], seed: Long): (Seq[T], Seq[Seq[T]]) = {
    val perm = new Random(seed).shuffle(docs)
    val nBase = (perm.size * BaseShare).toInt
    (perm.take(nBase), perm.drop(nBase).grouped(BatchDocs).filter(_.size == BatchDocs).toSeq)
  }
}

object Kernels {
  /** Rows per second of each hot expression kernel over a fixed cached
    * frame (the corpus and embeddings, repeated), median of 3. */
  def measure(spark: SparkSession, data: String): Map[String, Double] = {
    import spark.implicits._
    val reps = spark.range(16).toDF("r")
    val docs = Tables.load(spark, data, "documents").select("text").crossJoin(reps)
      .withColumn("toks", TextOps.tokens($"text"))
      .withColumn("shs", TextOps.shingles($"toks", 5))
      .withColumn("h3", TextOps.shingleHashes($"toks", 3, "md5_60"))
      .cache()
    val emb = Tables.load(spark, data, "embeddings").crossJoin(reps)
      .select(VectorOps.asDouble($"embedding").as("v")).cache()
    val nDocs = docs.count().toDouble
    val nEmb = emb.count().toDouble
    val ks = Seq(
      ("shingle_hashes", docs, nDocs, TextOps.shingleHashes($"toks", 5)),
      ("minhash_signature", docs, nDocs, TextOps.minhashSignatureNative($"shs", 32)),
      ("minhash_band_keys", docs, nDocs, TextOps.minhashBandKeysNative($"shs", 32, 8)),
      ("winnow_mins", docs, nDocs, TextOps.winnowMins($"h3", 4)),
      ("simhash_packed", docs, nDocs, TextOps.simhashPacked($"toks")),
      ("nfc_normalize", docs, nDocs, TextOps.nfcNormalize($"text")),
      ("md5_hash60", docs, nDocs, TextOps.md5Hash60($"text")),
      ("dot", emb, nEmb, VectorOps.dot($"v", $"v")))
    try ks.map { case (name, df, n, c) =>
      val q = df.select(c.as("k"))
      def once(): Double = {
        val t0 = System.nanoTime()
        q.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      once()
      name -> n / Seq(once(), once(), once()).sorted.apply(1)
    }.toMap
    finally { docs.unpersist(); emb.unpersist() }
  }
}
