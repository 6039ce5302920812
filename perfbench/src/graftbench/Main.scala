package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}

import graft.{GraftSession, Tables}

/** One timed op call and what was measured around it. */
final case class Sample(id: Int, op: String, kind: String, pass: Int, traced: Boolean,
    wallMs: Double, startMs: Long, endMs: Long, error: Option[String], fingerprint: Option[String],
    userBytes: Long, jvm: Counters, probe: Boolean, var ok: Boolean = true)

/** Benchmark JVM: builds the session, sets up and warms one workload,
  * runs timed passes of its ops, checks outputs and writes one JSON
  * run record (plus a span log when tracing). `perfbench/run.py`
  * launches it and turns the record into the benchmark's result line.
  *
  * Arguments: --workload analytics|curation|maintenance --seed N
  * --seconds S --trace 0|1 --data DIR --work DIR --report FILE
  * [--verified FILE] [--plan-only] [--inject-throw OP]
  * [--corrupt-fingerprint OP]. */
object Main {
  /** Sequential warm-up passes after the concurrent warm-up. */
  val WarmupPasses = 1
  /** Traced maintenance passes of a layer probe. */
  val ProbePasses = 2

  private def arg(args: Array[String], k: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`k`, v) => v }

  def main(args: Array[String]): Unit = {
    val workloadName = arg(args, "--workload").get
    val seed = arg(args, "--seed").get.toLong
    val seconds = arg(args, "--seconds").get.toDouble
    val trace = arg(args, "--trace").contains("1")
    val data = arg(args, "--data").get
    val work = arg(args, "--work").get
    val report = arg(args, "--report").get
    val nproc = Runtime.getRuntime.availableProcessors
    val throwIn = arg(args, "--inject-throw").toSet
    val corrupt = arg(args, "--corrupt-fingerprint").toSet
    // keys of outputs already verified against the oracle in this checkout
    val verified = arg(args, "--verified").filter(f => Files.exists(Paths.get(f)))
      .map(f => new String(Files.readAllBytes(Paths.get(f)), UTF_8).split("\n").toSet)
      .getOrElse(Set.empty[String])
    if (args.contains("--plan-only")) {
      write(report, Json.write(plan(workloadName, seed, data)))
      return
    }

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val tp0 = System.nanoTime()
    val probesStart = Probes.measure(nproc)
    val probeS = (System.nanoTime() - tp0) / 1e9
    val phases = mutable.LinkedHashMap.empty[String, Double]
    def phase[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try body finally phases(name) = (System.nanoTime() - t0) / 1e9
    }

    val spark = phase("session_s")(GraftSession.defaults(SparkSession.builder()
      .master(s"local[$nproc]")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse"))
      .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    phase("validate_s")(Tables.validate(spark, data))

    val tracer = new Tracer
    val exec = new ExecListener
    val planL = new PlanListener
    if (trace) {
      spark.sparkContext.addSparkListener(exec)
      spark.listenerManager.register(planL)
    }
    val workload: Workload = workloadName match {
      case "analytics" => new Analytics(spark, data, work, tracer, seed)
      case "curation" => new Curation(spark, data, tracer, seed)
      case "maintenance" => new Maintenance(spark, data, work, tracer, seed)
    }

    val samples = mutable.ArrayBuffer.empty[Sample]
    val expected = mutable.Map.empty[String, String]
    val outputs = mutable.LinkedHashMap.empty[String, (Output, String)]
    var heapPeak = 0L
    def settleHeap(): Unit = {
      System.gc()
      heapPeak = math.max(heapPeak, Counters.oldGenUsed())
    }

    def runOp(op: Op, pass: Int, timed: Boolean, traced: Boolean,
        probe: Boolean = false): Double = {
      val id = samples.size
      tracer.enabled = traced
      if (traced) spark.sparkContext.setLocalProperty(ExecListener.OpKey, id.toString)
      val c0 = Counters.snapshot()
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val res =
        try Right(tracer.withOp(id)(tracer.span("op:" + op.name) {
          if (throwIn(op.name)) throw new IllegalStateException("injected failure")
          op.run()
        }))
        catch { case e: Throwable => Left(e) }
      val wallMs = (System.nanoTime() - t0) / 1e6
      val w1 = System.currentTimeMillis()
      val c1 = Counters.snapshot()
      tracer.enabled = false
      spark.sparkContext.setLocalProperty(ExecListener.OpKey, null)
      spark.catalog.clearCache()
      if (timed) {
        val out = res.toOption.flatten
        val fp = out.map(Fingerprint.of)
        fp.foreach { f =>
          if (!expected.contains(op.name)) {
            expected(op.name) = if (corrupt(op.name)) "corrupted:" + f else f
            op.oracle.foreach(sql => outputs(op.name) = (out.get, sql))
          }
        }
        val s = Sample(id, op.name, op.kind, pass, traced, wallMs, w0, w1,
          res.left.toOption.map(e => s"${e.getClass.getName}: ${e.getMessage}".take(300)),
          fp, op.userBytes(), c1 - c0, probe)
        s.ok = s.error.isEmpty && fp.forall(f => expected.get(op.name).contains(f))
        samples += s
      } else res.left.toOption.foreach(e => System.err.println(s"warm-up ${op.name} failed: $e"))
      wallMs
    }

    def runConcurrently(units: Seq[() => Unit]): Unit = {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(nproc)
      try units.map(unit => pool.submit(new Runnable {
        def run(): Unit = try unit() catch {
          case e: Throwable => System.err.println(s"warm-up failed: $e")
        }
      })).foreach(_.get())
      finally pool.shutdown()
      spark.catalog.clearCache()
    }

    // Warm-up: the workload's independent warm-up units on nproc
    // client threads, then sequential passes whose walls are kept so
    // any remaining drift is visible.
    phase("warmup_s")(runConcurrently(workload.warmup()))
    val warmPasses = (0 until WarmupPasses).map(workload.firstTimedPass + _).map { p =>
      settleHeap()
      workload.pass(p).map(runOp(_, p, timed = false, traced = false)).sum / 1e3
    }
    settleHeap()
    val firstTimedMs = System.currentTimeMillis()
    val setupS = (firstTimedMs - jvmStartMs) / 1e3 - probeS

    // Whole passes only, so every op type is sampled equally often, and
    // a pass count fixed by `seconds` and the workload's nominal pass
    // wall, not by how fast this run goes: passes still get faster as
    // the JIT works, so a count that grows with speed would add the
    // fastest passes to the fastest runs only. Traced runs alternate
    // untraced and traced passes and run at least three, so the
    // untraced first and last passes show any drift.
    val nPasses = math.max(if (trace) 3 else 1, math.round(seconds / workload.passSeconds).toInt)
    val timedPasses = (0 until nPasses).map { i =>
      val p = workload.firstTimedPass + WarmupPasses + i
      if (i > 0) settleHeap()
      val traced = trace && i % 2 == 1
      val t0 = System.nanoTime()
      workload.pass(p).foreach(runOp(_, p, timed = true, traced = traced))
      Map("pass" -> p, "traced" -> traced, "wall_s" -> (System.nanoTime() - t0) / 1e9)
    }
    settleHeap()
    val timedEndMs = System.currentTimeMillis()

    // Traced runs only: the workload's layer probe (a second workload
    // whose layers this one does not reach), warmed up, then traced
    // passes outside the end-to-end figures.
    val probe = if (trace) workload.probe else None
    probe.foreach { m =>
      phase("probe_s") {
        runConcurrently(m.warmup())
        (m.firstTimedPass until m.firstTimedPass + ProbePasses).foreach { p =>
          settleHeap()
          m.pass(p).foreach(runOp(_, p, timed = true, traced = true, probe = true))
        }
      }
    }

    // outputs checked against the DuckDB oracle by run.py; an output
    // whose (sql, fingerprint) key is already verified is not dumped
    val outDir = s"$work/outputs"
    val checked = phase("dump_s")(outputs.map { case (name, (o, sql)) =>
      val key = Fingerprint.sha256(sql + "\n" + expected(name))
      val dir = if (verified(key)) None else {
        spark.createDataFrame(java.util.Arrays.asList(o.rows: _*), o.schema)
          .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        Some(s"$outDir/$name")
      }
      name -> Map("key" -> key, "dir" -> dir, "sql" -> sql)
    }.toMap)
    val finish = phase("finish_s")(workload.finish()) ++
      (if (trace) phase("trace_only_s")(workload.traceOnly()) else Map.empty) ++
      probe.map(m => "maintenance" -> phase("probe_finish_s")(m.finish()))
    (workload.failedOps ++ probe.toSeq.flatMap(_.failedOps))
      .foreach(op => samples.filter(_.op == op).foreach(_.ok = false))

    val layers: Map[String, Any] =
      if (!trace) Map.empty
      else {
        org.apache.spark.BenchBridge.drainListenerBus(spark.sparkContext)
        Map("samples" -> samples.filter(_.traced).map(s => sampleLayers(s, exec, planL, nproc)),
          "span_check_max_abs_ms" -> spanCheck(tracer, samples.toSeq))
      }
    if (trace) {
      val lines = tracer.toJsonLines.mkString("", "\n", "\n")
      write(s"$work/spans.jsonl", lines)
    }
    val probesEnd = Probes.measure(nproc)

    val rec = Map(
      "workload" -> workloadName, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "nproc" -> nproc, "ops" -> workload.opNames,
      "setup_s" -> setupS, "setup_phases" -> phases.toMap, "probe_start_s" -> probeS,
      "warmup_pass_s" -> warmPasses, "timed_passes" -> timedPasses,
      "timed_wall_s" -> (timedEndMs - firstTimedMs) / 1e3,
      "heap_peak_mb" -> heapPeak / 1048576.0,
      "probes" -> Map("start" -> probesStart, "end" -> probesEnd),
      "samples" -> samples.map(sampleJson),
      "checked_outputs" -> checked,
      "expected_fingerprints" -> expected.toMap,
      "finish" -> finish,
      "layers" -> layers)
    write(report, Json.write(rec))
    spark.stop()
  }

  private def write(path: String, s: String): Unit = {
    Files.createDirectories(Paths.get(path).toAbsolutePath.getParent)
    Files.write(Paths.get(path), s.getBytes(UTF_8))
  }

  private def sampleJson(s: Sample): Map[String, Any] = Map(
    "id" -> s.id, "op" -> s.op, "kind" -> s.kind, "pass" -> s.pass, "traced" -> s.traced,
    "wall_ms" -> s.wallMs, "ok" -> s.ok, "error" -> s.error, "fingerprint" -> s.fingerprint,
    "user_bytes" -> s.userBytes, "probe" -> s.probe,
    "jvm" -> Map("gc_ms" -> s.jvm.gcMs, "gc_count" -> s.jvm.gcCount, "jit_ms" -> s.jvm.jitMs,
      "code_cache_mb" -> s.jvm.codeCacheBytes / 1048576.0, "codegen_compiles" -> s.jvm.cgCompiles,
      "codegen_compile_ms" -> s.jvm.cgCompileMs),
    "store" -> Map("bytes_read" -> s.jvm.fsBytesRead, "bytes_written" -> s.jvm.fsBytesWritten,
      "read_ops" -> s.jvm.fsReadOps, "write_ops" -> s.jvm.fsWriteOps))

  /** Exec and plan layers of one traced sample. */
  private def sampleLayers(s: Sample, exec: ExecListener, planL: PlanListener,
      nproc: Int): Map[String, Any] = {
    val x = exec.get(s.id)
    val acts = planL.within(s.startMs, s.endMs)
    val jobsMs = x.map(e => ExecListener.unionLength(e.jobIntervals.toSeq.map {
      case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs))
    }.filter { case (a, b) => b > a })).getOrElse(0L)
    val runMs = x.map(_.runMs).getOrElse(0L)
    Map("id" -> s.id, "op" -> s.op,
      "exec.jobs" -> x.map(_.jobs).getOrElse(0), "exec.stages" -> x.map(_.stages).getOrElse(0),
      "exec.tasks" -> x.map(_.tasks).getOrElse(0),
      "exec.tasks_failed" -> x.map(_.tasksFailed).getOrElse(0),
      "exec.task_cpu_ms" -> x.map(_.cpuNs / 1e6).getOrElse(0.0),
      "exec.task_run_ms" -> runMs, "exec.task_gc_ms" -> x.map(_.gcMs).getOrElse(0L),
      "exec.core_util" -> runMs / (s.wallMs * nproc),
      "exec.driver_gap_ms" -> (s.wallMs - jobsMs),
      "exec.shuffle_read_bytes" -> x.map(_.shuffleRead).getOrElse(0L),
      "exec.shuffle_write_bytes" -> x.map(_.shuffleWrite).getOrElse(0L),
      "exec.spill_bytes" -> x.map(_.spill).getOrElse(0L),
      "exec.input_bytes" -> x.map(_.input).getOrElse(0L),
      "plan.actions" -> acts.size, "plan.analyze_ms" -> acts.map(_.analyzeMs).sum,
      "plan.optimize_ms" -> acts.map(_.optimizeMs).sum,
      "plan.physical_ms" -> acts.map(_.physicalMs).sum)
  }

  /** Largest |sum of span self times − op wall| over traced samples. */
  private def spanCheck(tracer: Tracer, samples: Seq[Sample]): Double = {
    val self = tracer.selfNs
    val byOp = tracer.all.groupBy(_.op)
    samples.filter(_.traced).map { s =>
      val sum = byOp.getOrElse(s.id, Nil).map(sp => self(sp.id)).sum / 1e6
      math.abs(sum - s.wallMs)
    }.maxOption.getOrElse(0.0)
  }

  /** Op order of the first passes and, for maintenance, the seeded
    * split of document ids, without starting Spark. */
  private def plan(workload: String, seed: Long, data: String): Map[String, Any] = {
    val passes = (0 until 3).map { p =>
      workload match {
        case "analytics" => Workloads.shuffled(Workloads.AnalyticsQueries :+ "ml.train_eval", seed, p)
        case "curation" => Workloads.shuffled(Workloads.CurationQueries, seed, p)
        case _ => Maintenance.order(seed, p)
      }
    }
    val docs = {
      import org.apache.parquet.hadoop.ParquetFileReader
      import org.apache.parquet.hadoop.util.HadoopInputFile
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(s"$data/documents.parquet"),
        new org.apache.hadoop.conf.Configuration()))
      try r.getRecordCount finally r.close()
    }
    val (base, batches) = Maintenance.split((0L until docs).toSeq, seed)
    Map("passes" -> passes, "base" -> base.sorted, "batches" -> batches.take(4))
  }
}

/** Order-insensitive digest of an op's rows: each row rendered
  * canonically (floats to 10 significant digits), rows sorted, SHA-256. */
object Fingerprint {
  private def canon(v: Any): String = v match {
    case null => "~"
    case d: Double =>
      if (d.isNaN || d.isInfinite) d.toString
      else if (d == 0.0) "0" else String.format(java.util.Locale.ROOT, "%.9e", Double.box(d))
    case f: Float => canon(f.toDouble)
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] => m.map { case (k, x) => canon(k) + ":" + canon(x) }
      .toSeq.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case x => x.toString
  }

  def of(o: Output): String = sha256(o.rows.map(canon).sorted.mkString("", "\n", "\n"))

  def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
      .map("%02x".format(_)).mkString
}
