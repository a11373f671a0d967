package perfbench

import scala.util.Try
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.{Engine, ExecTimer, Measure, SparkEntry, Tables}
import graft.ops.ScaleStress

/** The benchmark's client: one closed loop that runs a workload's
  * operations one at a time through the engine's public calls and checks
  * every output. perfbench/run.py generates the plan (operations and
  * expected outputs) from the seed and turns this program's TSV output
  * into the benchmark's JSON.
  *
  * Usage: Main run plan=<tsv> out=<tsv> dir=<data dir> trace=0|1 salt=<s>
  *        Main selftest
  *
  * Set-up is Engine.session plus the first catalog registration, timed
  * once, cold, as the process's first Spark work. */
object Main {

  /** One planned operation. kind: "sql" (arg = SQL text), "stream" (arg =
    * a streaming corpus entry) or "dedup" (arg = a dedup pipeline).
    * `warm` copies run untimed before the pass. */
  final case class Op(name: String, kind: String, arg: String,
      expected: Check.Expected, warm: Boolean = false)

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("run") =>
      val kv = args.tail.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
      run(kv)
    case Some("selftest") => SelfTest.run()
    case _ =>
      System.err.println("usage: Main run plan=.. out=.. dir=.. trace=0|1 salt=.. | Main selftest")
      sys.exit(2)
  }

  def readPlan(path: String): Vector[Op] = {
    val dec = java.util.Base64.getDecoder
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().filter(_.nonEmpty).map { line =>
      val f = line.split("\t", -1)
      val nRows = f(3).toInt
      val arg = if (f(1) == "sql") new String(dec.decode(f(2)), "UTF-8") else f(2)
      Op(f(0), f(1), arg, Check.Expected(nRows, f(4).toInt, Check.decodeRows(f(5), nRows)),
        f(6) == "1")
    }.toVector
    finally src.close()
  }

  def status(verdict: Option[String]): String = if (verdict.isEmpty) "ok" else "fail"

  /** The checker's verdict on one output and how many expected rows it
    * holds. An output the checker cannot read fails the operation rather
    * than the run. */
  def judge(e: Check.Expected, rows: Array[Row]): (Option[String], Int) =
    Try((Check.check(e, rows), Check.matched(e, rows)))
      .fold(t => (Some("CHECK " + t), 0), identity)

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def run(kv: Map[String, String]): Unit = {
    val plan = readPlan(kv("plan"))
    val dir = kv("dir")
    val trace = new Trace(kv("trace") == "1")
    val out = new java.io.PrintWriter(kv("out"), "UTF-8")
    def emit(fields: Any*): Unit = out.println(fields.mkString("\t"))
    val cores = Runtime.getRuntime.availableProcessors

    // ---- set-up
    val setupStart = System.nanoTime()
    val spark: SparkSession = Engine.session(cores = cores, shufflePartitions = cores)
    val registerStart = System.nanoTime()
    Tables.registerAll(spark, dir)
    emit("setup", secs(setupStart), secs(registerStart))
    val sc = spark.sparkContext

    // the dedup corpus: the fixture's documents with every word salted,
    // built and cached before timing. The salt changes every shingle hash,
    // so LSH bucket occupancy and d07's hashed-bucket cosines, but not
    // d02's Jaccard pairs: every word of a document gets the same prefix.
    val needsDocs = plan.exists(_.kind == "dedup")
    lazy val docs: DataFrame = {
      import org.apache.spark.sql.functions._
      val d = ScaleStress.multiplyDocs(Tables.load(spark, dir, "documents"), 1)
        .withColumn("text", regexp_replace(col("text"), lit("(^| )"),
          lit("$1s" + kv("salt") + "x")))
        .persist()
      d.count()
      d
    }
    val pipelines: Map[String, () => DataFrame] =
      if (!needsDocs) Map.empty
      else ScaleStress.pipelines(docs, Some(ScaleStress.geometryFor(docs.count()))).toMap

    val listener = new Listener
    val streams = new StreamListener
    val streamDefs = SparkEntry.streamingDefs.map(d => d.name -> d).toMap
    var embeddedS = 0.0

    def runOp(id: String, op: Op): Array[Row] = op.kind match {
      case "sql" =>
        if (trace.enabled) trace.overhead(trace.span(id, "dialect.translate") {
          try graft.Dialect.translate(op.arg) catch { case NonFatal(_) => "" }
        })
        val df = trace.span(id, "engine.build")(Engine.sql(spark, dir, op.arg))
        val rows = trace.span(id, "execute")(df.collect())
        if (trace.enabled) trace.phases(id, df.queryExecution)
        rows
      case "stream" | "dedup" =>
        val df = trace.span(id, "ops.call") {
          if (op.kind == "stream") streamDefs(op.arg).run(spark, dir) else pipelines(op.arg)()
        }
        trace.span(id, "execute")(df.collect())
    }

    // ---- warm-up copies, untimed, then one pass over the operations,
    // closed loop
    val (warm, pass) = plan.partition(_.warm)
    for (op <- warm) {
      val t0 = System.nanoTime()
      // an operation that fails here fails again, counted, in the pass
      try runOp(s"warm:${op.name}", op) catch { case NonFatal(_) => }
      emit("warm", op.name, secs(t0))
    }
    trace.reset()
    ExecTimer.drainSec()
    if (trace.enabled) {
      Measure.flushListenerBus(sc)
      sc.addSparkListener(listener)
      spark.streams.addListener(streams)
    }
    for ((op, i) <- pass.zipWithIndex) {
      val id = s"$i:${op.name}"
      sc.setJobGroup(id, op.name, interruptOnCancel = false)
      ExecTimer.drainSec()
      val t0 = System.nanoTime()
      val result =
        try Right(trace.span(id, "op")(runOp(id, op)))
        catch { case NonFatal(e) => Left(e) }
      val latency = secs(t0)
      embeddedS += ExecTimer.drainSec()
      sc.clearJobGroup()
      val (verdict, matched) = result match {
        case Left(e) =>
          (Some("ERR " + String.valueOf(e.getMessage).takeWhile(_ != '\n').take(160)), 0)
        case Right(rows) => judge(op.expected, rows)
      }
      emit("op", op.name, op.kind, latency, status(verdict), result.map(_.length).getOrElse(0),
        matched, op.expected.nRows, verdict.getOrElse("").replaceAll("[\t\n\r]", " "))
      if (trace.enabled) {
        Measure.flushListenerBus(sc)
        listener.drainTo(trace)
      }
    }

    // ---- traced-run extras, outside the timed pass
    if (trace.enabled) {
      emit("metric", "ops.embedded_exec_s", embeddedS)
      Measure.flushListenerBus(sc)
      listener.drainTo(trace)
      emit("metric", "spark.jobs", listener.jobs.get)
      emit("metric", "spark.stages", listener.stages.get)
      emit("metric", "spark.tasks", listener.tasks.get)
      emit("metric", "spark.task_run_s", listener.runMs.get / 1e3)
      emit("metric", "spark.task_cpu_s", listener.cpuNs.get / 1e9)
      emit("metric", "spark.gc_s", listener.gcMs.get / 1e3)
      emit("metric", "spark.shuffle_write_bytes", listener.shuffleWrite.get)
      emit("metric", "spark.shuffle_read_bytes", listener.shuffleRead.get)
      emit("metric", "spark.spill_bytes", listener.spill.get)
      emit("metric", "spark.task_skew", listener.taskSkew)
      emit("metric", "spark.failed_tasks", listener.failedTasks.get)
      emit("metric", "stream.batches", streams.batches.get)
      emit("metric", "stream.input_rows", streams.inputRows.get)
      emit("metric", "stream.state_rows", streams.stateRowsTotal)
      emit("metric", "stream.state_commit_s", streams.commitMs.get / 1e3)
      emit("metric", "stream.batch_s", streams.batchMs.get / 1e3)
      emit("metric", "trace.cost_s", trace.costS)
      emit("metric", "cores", cores)
      // after the pass's Spark and streaming counters are read
      if (needsDocs) {
        emit("metric", "ops.lsh_candidates", ScaleStress.lshCandidateCount(docs))
        // the signature kernels alone: the MinHash and sign-LSH signatures
        // of the same corpus, projected and discarded
        val (p, t) = ScaleStress.geometryFor(docs.count())
        val kernels = docs.selectExpr(
          "graft_minhash_sig(graft_xxhash64_arr(graft_word_shingles(text)), 64) AS m",
          s"graft_lsh_sig(graft_shingle_hist_text(text, 256), $p, $t) AS l")
        kernels.write.format("noop").mode("overwrite").save() // compiles the kernels
        val t0 = System.nanoTime()
        kernels.write.format("noop").mode("overwrite").save()
        emit("metric", "functions.kernel_s", secs(t0))
      }
      trace.spans.foreach { case (op, layer, s, e) => emit("span", op, layer, s, e) }
    }
    if (needsDocs) docs.unpersist(blocking = true)

    // ---- end-of-run state: the heap full collections keep, then the host
    // record. Spark's ContextCleaner frees broadcast and shuffle blocks
    // asynchronously after a collection finds them unreachable, so collect
    // a few times and keep the smallest reading.
    val memory = java.lang.management.ManagementFactory.getMemoryMXBean
    val retained = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(200)
      memory.getHeapMemoryUsage.getUsed
    }.min
    emit("metric", "heap_retained_mb", retained / 1048576.0)
    val (single, multi) = Measure.canaryPair()
    emit("host", "cpu_canary_s", single)
    emit("host", "cpu_canary_multi_s", multi)
    emit("host", "nproc", cores)
    emit("host", "heap_max_mb", memory.getHeapMemoryUsage.getMax / 1048576.0)
    emit("host", "spark_version", spark.version)
    out.close()
    spark.stop()
  }
}

/** Self-test of the checker and of how a wrong output is counted. */
object SelfTest {
  def run(): Unit = {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
    val schema = StructType(Seq(StructField("b", LongType), StructField("a", DoubleType),
      StructField("ts", TimestampType)))
    def row(b: Long, a: Double): Row = new GenericRowWithSchema(
      Array[Any](b, a, java.sql.Timestamp.valueOf("1996-01-02 00:00:00")), schema)
    val rows = Array(row(2, 0.5), row(1, 1234.5678))
    // columns by name: a, b, ts
    val want = Seq("1.234568e+03\u00011\u00011996-01-02 00:00:00",
      "5.000000e-01\u00012\u00011996-01-02 00:00:00")
    val good = Check.Expected(2, 3, want)
    require(Check.check(good, rows).isEmpty, s"good rows rejected: ${Check.check(good, rows)}")
    // a numeric cell within the 1e-6 relative tolerance still matches
    val close = good.copy(rows = Seq(want(0), want(1).replace("5.000000e-01", "5.0000001e-01")))
    require(Check.check(close, rows).isEmpty, "tolerance not applied")
    require(Check.matched(close, rows) == 2, "tolerance not applied when counting matches")
    // one perturbed cell is caught, and counts as a failed operation
    val bad = good.copy(rows = Seq(want(0), want(1).replace("\u00012\u0001", "\u00013\u0001")))
    val verdict = Check.check(bad, rows)
    require(verdict.isDefined, "perturbed cell not caught")
    require(Main.status(verdict) == "fail", "perturbed cell not counted as failed")
    require(Check.matched(bad, rows) == 1, "perturbed row counted as matched")
    require(Check.check(good.copy(nRows = 3), rows).isDefined, "row count not checked")
    // a lost row is caught: what a dedup that drops pairs returns
    require(Check.check(good, rows.take(1)).isDefined, "missing row accepted")
    // a null cell where a value is expected is caught
    val withNull = Array(rows(0), new GenericRowWithSchema(Array[Any](2L, null,
      java.sql.Timestamp.valueOf("1996-01-02 00:00:00")), schema))
    require(Main.status(Main.judge(good, withNull)._1) == "fail", "null cell accepted")
    // an output the checker cannot read (rows without a schema) fails the
    // operation instead of throwing out of the run
    val (unreadable, n) = Main.judge(good, Array(Row(2L, 0.5, null), Row(1L, 1.0, null)))
    require(unreadable.exists(_.startsWith("CHECK ")) && n == 0,
      s"unreadable output not counted as failed: $unreadable")
    println("selftest ok")
  }
}
