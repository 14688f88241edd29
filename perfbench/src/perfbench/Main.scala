package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.perfbench.GroupListener
import org.apache.spark.sql.SparkSession

import graft.{AnyFile, SparkEntry}
import graft.operators.BulkIngest

/** The benchmark's JVM side: runs one workload closed-loop with one
  * client thread, checks every output, and prints one JSON result line.
  *
  * A run is: [[SetupReps]] set-ups (each a fresh Spark session, the
  * workload's inputs and one warm-up operation; `setup_s` is their
  * median, the first counted from JVM start); one untimed warm pass that
  * also runs the output checks that need a collect; then timed passes
  * until `--seconds` is spent. With `--trace 1` the timed window is one
  * untraced pass and one traced pass instead, and the result holds the
  * per-layer metrics.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --spec FILE
  *             --tables DIR --tier T --work DIR [--corpus full|tiny]
  *        Main --record OUT --spec FILE --tables DIR  (expected digests) */
object Main {
  val SetupReps = 3

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val spec = new ObjectMapper().readTree(Paths.get(args("spec")).toFile)
    val code =
      if (args.contains("record")) Record.run(spec, Paths.get(args("tables")), Paths.get(args("record")))
      else new Bench(args, spec).run()
    System.exit(code)
  }

  def session(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The `queries` workload's query groups, `iterative` then `single_pass`. */
  val QueryGroups: Seq[String] = Seq("iterative", "single_pass")

  def queryGroup(spec: JsonNode, group: String): Seq[String] =
    spec.path("workloads").path("queries").path(group).elements().asScala.map(_.asText).toSeq

  def queryList(spec: JsonNode): Seq[String] = QueryGroups.flatMap(queryGroup(spec, _))

  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else {
      val pos = p * (s.length - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
}

/** One timed pass: its wall time and each operation's latency. */
final case class Pass(wallS: Double, opMs: Seq[Double])

/** A workload drives the program through its public entry points. */
trait Workload {
  /** Builds the workload's inputs; part of every set-up. */
  def prepare(): Unit
  /** One short operation that warms the session; part of every set-up. */
  def warmOp(): Unit
  /** An untimed pass that runs the checks needing a collect. */
  def warmPass(): Unit
  /** A timed pass; `tag` names its job groups. */
  def pass(tag: String): Pass
  /** Per-layer metrics of the traced pass `tag`. */
  def layers(tag: String, pass: Pass): Map[String, Double]
}

final class Bench(args: Map[String, String], spec: JsonNode) {
  private val jvmStartNs =
    System.nanoTime() - ManagementFactory.getRuntimeMXBean.getUptime * 1000000L
  val workloadName: String = args("workload")
  val seed: Long = args("seed").toLong
  val seconds: Double = args("seconds").toDouble
  val traced: Boolean = args("trace") == "1"
  val cpus: Int = Runtime.getRuntime.availableProcessors
  val work: Path = Paths.get(args("work"))
  val listener = new GroupListener
  var spark: SparkSession = _
  var trace = new Trace(false)
  private var attempted = 0L
  private var failed = 0L

  /** Counts one operation, failed or not; a failure is explained on stderr. */
  def record(op: String, problem: Option[String]): Unit = {
    attempted += 1
    problem.foreach { p => failed += 1; System.err.println(s"[perfbench] FAILED $op: $p") }
  }

  /** A timeline line on stderr (the run log), seconds since JVM start. */
  def note(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - jvmStartNs) / 1e9}%.2f s: $what")

  /** Runs `body` under its own job group and phase span. */
  def phase[T](tag: String, name: String, op: String)(body: => T): T = {
    spark.sparkContext.setJobGroup(s"$tag|$name|$op", name, interruptOnCancel = false)
    try trace.span(name, op)(body)
    finally spark.sparkContext.clearJobGroup()
  }

  def run(): Int = {
    val workload: Workload = workloadName match {
      case "ingest-mixed" =>
        new Ingest(this, work.resolve("corpus"), seed, Corpus.Recipe(spec), tiny = args.get("corpus").contains("tiny"))
      case "queries" =>
        new Queries(this, spec, Paths.get(args("tables")), args("tier"), seed)
      case w =>
        System.err.println(s"[perfbench] unknown workload $w")
        return 2
    }
    val setups = (0 until Main.SetupReps).map { i =>
      val t0 = if (i == 0) jvmStartNs else System.nanoTime()
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      spark = Main.session(cpus)
      workload.prepare()
      note(s"set-up $i: inputs ready")
      workload.warmOp()
      note(s"set-up $i: done")
      (System.nanoTime() - t0) / 1e9
    }
    workload.warmPass()
    note("warm pass done")

    val metrics: Seq[(String, Double, String)] =
      if (traced) {
        val untraced = workload.pass("u")
        trace = new Trace(true)
        spark.sparkContext.addSparkListener(listener)
        val tracedPass = trace.span("workload", workloadName)(workload.pass("t"))
        listener.drain(spark.sparkContext)
        trace.write(work.resolve(s"trace-$workloadName-$seed.jsonl"))
        val layers = workload.layers("t", tracedPass) ++ Map(
          "trace_overhead" -> tracedPass.wallS / untraced.wallS,
          "trace.op_self_share" -> opSelfShare)
        Layers.names(spec).map { case (n, unit) => (n, layers.getOrElse(n, 0.0), unit) }
      } else {
        val passes = ArrayBuffer.empty[Pass]
        val t0 = System.nanoTime()
        def spent = (System.nanoTime() - t0) / 1e9
        do {
          passes += workload.pass(s"p${passes.length}")
          note(s"timed pass ${passes.length} done")
        } while (spent + passes.last.wallS <= seconds)
        val ops = passes.flatMap(_.opMs).toSeq
        Seq(
          ("setup_s", Main.percentile(setups, 0.5), "s"),
          ("pass_s", Main.percentile(passes.map(_.wallS).toSeq, 0.5), "s"),
          ("op_p50_ms", Main.percentile(ops, 0.5), "ms"),
          ("op_p95_ms", Main.percentile(ops, 0.95), "ms"))
      }
    spark.stop()
    note("stopped")
    val ms = metrics.map { case (n, v, u) => s"${Json.str(n)}: {\"value\": $v, \"unit\": ${Json.str(u)}}" }
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}""")
    System.out.flush()
    0
  }

  /** Share of the operations' span time not covered by their phases. */
  private def opSelfShare: Double = {
    val ops = trace.all.filter(s => s.name == "file" || s.name == "query" || s.name == "bulk")
    val opNs = ops.map(_.ns).sum.toDouble
    val self = trace.selfSeconds
    (self.getOrElse("file", 0.0) + self.getOrElse("query", 0.0) + self.getOrElse("bulk", 0.0)) * 1e9 /
      math.max(opNs, 1.0)
  }

  /** Peak heap over `body`, in MB: the sum of the heap pools' peaks. */
  def heapPeakMb[T](body: => T): (T, Double) = {
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    pools.foreach(_.resetPeakUsage())
    val out = body
    (out, pools.map(_.getPeakUsage.getUsed).sum / 1048576.0)
  }
}

/** `ingest-mixed`: every corpus file through `AnyFile.parse` plus a sink
  * write of each answer, then one `BulkIngest.parseTreeAuto` over the
  * corpus root plus its sink write. */
final class Ingest(b: Bench, root: Path, seed: Long, recipe: Corpus.Recipe, tiny: Boolean) extends Workload {
  private var files: Seq[Corpus.FileSpec] = Nil
  private val heap = scala.collection.mutable.Map.empty[String, Double]

  def prepare(): Unit = {
    if (Files.exists(root))
      Files.walk(root).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
    files = Corpus.write(root, seed, recipe, tiny)
  }

  def warmOp(): Unit = {
    val tag = s"w${System.nanoTime()}"
    timedFile(tag, files.head)
    check(tag, files.head)
  }

  /** Every other file through `AnyFile.parse` with its check, then the
    * bulk road's per-file check: cell rows per (path, sheet). */
  def warmPass(): Unit = {
    files.zipWithIndex.collect { case (f, i) if i % 2 == 0 =>
      timedFile("w", f)
      check("w", f)
    }
    val df = bulk()
    val got = df.groupBy("path", "sheet", "parse_info").count().collect()
      .map(r => (new java.net.URI(r.getString(0)).getPath, r.getString(1), r.getString(2)) -> r.getLong(3)).toMap
    files.foreach { f =>
      val path = root.resolve(f.rel).toAbsolutePath.toString
      val want = f.sheets.map { s =>
        if (s.native) (path, s.bulkName, "Native") -> 1L else (path, s.bulkName, "OK") -> s.rows
      }.toMap
      val have = got.filter(_._1._1 == path)
      b.record(s"bulk:${f.rel}", if (have == want) None else Some(s"bulk rows $have, expected $want"))
    }
  }

  private def bulk() = BulkIngest.parseTreeAuto(b.spark, root.toString,
    bigBytes = recipe.bigBytes, splitBatchBytes = recipe.splitBatchBytes)

  /** One file through `AnyFile.parse`; the answers' sheet names. */
  private def parseFile(tag: String, f: Corpus.FileSpec): Seq[String] =
    try {
      b.trace.span("file", f.rel) {
        val answers = b.phase(tag, "anyfile.parse", f.rel)(AnyFile.parse(b.spark, root.resolve(f.rel).toString))
        b.phase(tag, "anyfile.materialize", f.rel) {
          answers.zipWithIndex.foreach { case (a, i) =>
            b.spark.sparkContext.setJobGroup(s"$tag|anyfile.materialize|${f.rel}#$i", "", interruptOnCancel = false)
            CountSink.write(a.data)
          }
        }
        answers.map(_.sheetName)
      }
    } catch { case e: Exception => Seq(s"threw $e") }

  private val sheetsSeen = scala.collection.mutable.Map.empty[(String, String), Seq[String]]

  /** Answers must match the manifest: sheet names, and per answer the
    * rows its sink write counted. */
  private def check(tag: String, f: Corpus.FileSpec): Unit = {
    val names = sheetsSeen.getOrElse((tag, f.rel), Nil)
    val rows = names.indices.map(i => CountSink.rowsOf(s"$tag|anyfile.materialize|${f.rel}#$i"))
    val want = f.sheets.map(s => (s.name, s.rows))
    val have = names.zip(rows)
    b.record(s"anyfile:${f.rel}", if (have == want) None else Some(s"answers $have, expected $want"))
  }

  private def timedFile(tag: String, f: Corpus.FileSpec): Double = {
    val t0 = System.nanoTime()
    sheetsSeen((tag, f.rel)) = parseFile(tag, f)
    (System.nanoTime() - t0) / 1e6
  }

  def pass(tag: String): Pass = {
    val t0 = System.nanoTime()
    val (lat, anyHeap) = b.heapPeakMb(files.map(f => timedFile(tag, f)))
    val (_, bulkHeap) = b.heapPeakMb {
      b.trace.span("bulk", "bulk") {
        val df = b.phase(tag, "bulk.plan", "bulk")(bulk())
        b.phase(tag, "bulk.exec", "bulk")(CountSink.write(df))
      }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    heap(tag + "anyfile") = anyHeap
    heap(tag + "bulk") = bulkHeap
    files.foreach(f => check(tag, f))
    val bulkRows = CountSink.rowsOf(s"$tag|bulk.exec|bulk")
    val wantRows = files.flatMap(_.sheets).map(s => if (s.native) 1L else s.rows).sum
    b.record("bulk", if (bulkRows == wantRows) None else Some(s"bulk rows $bulkRows, expected $wantRows"))
    Pass(wall, lat)
  }

  def layers(tag: String, pass: Pass): Map[String, Double] = {
    val l = b.listener
    val parse = l.sumPrefix(s"$tag|anyfile.parse|")
    val mat = l.sumPrefix(s"$tag|anyfile.materialize|")
    val plan = l.sumPrefix(s"$tag|bulk.plan|")
    val exec = l.sumPrefix(s"$tag|bulk.exec|")
    val bulkAll = new GroupListener.Tally
    bulkAll.add(plan); bulkAll.add(exec)
    val bulkWall = b.trace.totalSeconds("bulk")
    val byFormat = files.zip(pass.opMs).groupBy(_._1.format).map { case (fmt, xs) =>
      s"anyfile.${fmt.replace('.', '_')}.p50_ms" -> Main.percentile(xs.map(_._2), 0.5)
    }
    byFormat ++ Map(
      "anyfile.parse_s" -> b.trace.totalSeconds("anyfile.parse"),
      "anyfile.parse_jobs" -> parse.jobs.toDouble,
      "anyfile.materialize_s" -> b.trace.totalSeconds("anyfile.materialize"),
      "anyfile.materialize_jobs" -> mat.jobs.toDouble,
      "anyfile.answers" -> files.map(f => sheetsSeen.getOrElse((tag, f.rel), Nil).length).sum.toDouble,
      "anyfile.rows" -> files.map(f => sheetsSeen.getOrElse((tag, f.rel), Nil).indices
        .map(i => CountSink.rowsOf(s"$tag|anyfile.materialize|${f.rel}#$i")).sum).sum.toDouble,
      "anyfile.heap_peak_mb" -> heap(tag + "anyfile"),
      "bulk.plan_s" -> b.trace.totalSeconds("bulk.plan"),
      "bulk.plan_jobs" -> plan.jobs.toDouble,
      "bulk.exec_s" -> b.trace.totalSeconds("bulk.exec"),
      "bulk.tasks" -> bulkAll.tasks.toDouble,
      "bulk.task_s" -> bulkAll.taskMs / 1e3,
      "bulk.utilization" -> bulkAll.taskMs / 1e3 / (bulkWall * b.cpus),
      "bulk.rows" -> CountSink.rowsOf(s"$tag|bulk.exec|bulk").toDouble,
      "bulk.heap_peak_mb" -> heap(tag + "bulk"))
  }
}

/** `queries`: the workload's fixed query list, in an order drawn from
  * the seed, each query built, planned and executed into [[CountSink]]. */
final class Queries(b: Bench, spec: JsonNode, tables: Path, tier: String, seed: Long)
    extends Workload {
  private val listed = Main.queryList(spec)
  private val order = new Random(seed).shuffle(listed)
  private val expected = spec.path("expected").path(tier)

  def prepare(): Unit = {
    val missing = Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
      "events", "documents", "embeddings").filterNot(t => Files.exists(tables.resolve(s"$t.parquet")))
    require(missing.isEmpty, s"missing tables $missing under $tables")
  }

  def warmOp(): Unit = {
    val name = spec.path("workloads").path("queries").path("warm_query").asText
    b.record(s"warm:$name", runQuery(s"w${System.nanoTime()}", name))
  }

  /** Row count and digest of every listed query against workloads.json. */
  def warmPass(): Unit = listed.foreach { name =>
    val problem =
      try {
        val (rows, digest) = Digest.of(SparkEntry.queries(name)(b.spark, tables.toString))
        val want = expected.path(name)
        if (want.isMissingNode) Some(s"no expected value for $tier")
        else if (rows != want.path("rows").asLong || digest != want.path("digest").asText)
          Some(s"rows $rows digest $digest, expected $want")
        else None
      } catch { case e: Exception => Some(s"threw $e") }
    cleanup()
    b.record(s"check:$name", problem)
  }

  /** Build, plan, execute; a problem if it throws. */
  private def runQuery(tag: String, name: String): Option[String] =
    try {
      b.trace.span("query", name) {
        val df = b.phase(tag, "query.build", name)(SparkEntry.queries(name)(b.spark, tables.toString))
        b.phase(tag, "query.plan", name)(df.queryExecution.executedPlan)
        b.phase(tag, "query.execute", name)(CountSink.write(df))
      }
      None
    } catch { case e: Exception => Some(s"threw $e") }
    finally cleanup()

  // queries are independent: drop what one cached before the next runs
  private def cleanup(): Unit = {
    b.spark.sharedState.cacheManager.clearCache()
    b.spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  def pass(tag: String): Pass = {
    val t0 = System.nanoTime()
    val runs = order.map { name =>
      val q0 = System.nanoTime()
      val problem = runQuery(tag, name)
      (name, problem, (System.nanoTime() - q0) / 1e6)
    }
    val wall = (System.nanoTime() - t0) / 1e9
    runs.foreach { case (name, problem, _) =>
      val rows = CountSink.rowsOf(s"$tag|query.execute|$name")
      val want = expected.path(name).path("rows").asLong
      b.record(name, problem.orElse(if (rows == want) None else Some(s"rows $rows, expected $want")))
    }
    Pass(wall, runs.map(_._3))
  }

  def layers(tag: String, pass: Pass): Map[String, Double] = {
    val l = b.listener
    val build = l.sumPrefix(s"$tag|query.build|")
    val exec = l.sumPrefix(s"$tag|query.execute|")
    val all = new GroupListener.Tally
    Seq(build, l.sumPrefix(s"$tag|query.plan|"), exec).foreach(all.add)
    val wallS = order.zip(pass.opMs.map(_ / 1e3)).toMap
    val perQuery = order.flatMap { name =>
      val jobs = Seq("query.build", "query.plan", "query.execute").map(p => l.get(s"$tag|$p|$name").jobs).sum
      Seq(s"$name.wall_s" -> wallS(name), s"$name.jobs" -> jobs.toDouble)
    }
    val perGroup = Main.QueryGroups.map(g => s"query.${g}_wall_s" -> Main.queryGroup(spec, g).map(wallS).sum)
    val queryWall = pass.opMs.sum / 1e3
    perQuery.toMap ++ perGroup ++ Map(
      "query.build_s" -> b.trace.totalSeconds("query.build"),
      "query.build_jobs" -> build.jobs.toDouble,
      "query.plan_s" -> b.trace.totalSeconds("query.plan"),
      "query.exec_s" -> b.trace.totalSeconds("query.execute"),
      "query.exec_jobs" -> exec.jobs.toDouble,
      "query.stages" -> all.stages.toDouble,
      "query.tasks" -> all.tasks.toDouble,
      "query.task_s" -> all.taskMs / 1e3,
      "query.cpu_s" -> all.cpuNs / 1e9,
      "query.utilization" -> all.taskMs / 1e3 / (queryWall * b.cpus),
      "query.shuffle_write_mb" -> all.shuffleWriteBytes / 1048576.0,
      "query.shuffle_write_records" -> all.shuffleWriteRecords.toDouble,
      "query.spill_mb" -> all.spillBytes / 1048576.0,
      "query.gc_s" -> all.gcMs / 1e3)
  }
}

/** The per-layer metric names and units, for every workload. */
object Layers {
  def names(spec: JsonNode): Seq[(String, String)] = {
    val fixed = Seq(
      "anyfile.parse_s" -> "s", "anyfile.parse_jobs" -> "count",
      "anyfile.materialize_s" -> "s", "anyfile.materialize_jobs" -> "count") ++
      Corpus.Recipe(spec).small.map(_._1).map(f => s"anyfile.${f.replace('.', '_')}.p50_ms" -> "ms") ++
      Seq("anyfile.answers" -> "count", "anyfile.rows" -> "count", "anyfile.heap_peak_mb" -> "MB",
        "bulk.plan_s" -> "s", "bulk.plan_jobs" -> "count", "bulk.exec_s" -> "s", "bulk.tasks" -> "count",
        "bulk.task_s" -> "s", "bulk.utilization" -> "ratio", "bulk.rows" -> "count",
        "bulk.heap_peak_mb" -> "MB",
        "query.build_s" -> "s", "query.build_jobs" -> "count", "query.plan_s" -> "s",
        "query.exec_s" -> "s", "query.exec_jobs" -> "count", "query.stages" -> "count",
        "query.tasks" -> "count", "query.task_s" -> "s", "query.cpu_s" -> "s",
        "query.utilization" -> "ratio", "query.shuffle_write_mb" -> "MB",
        "query.shuffle_write_records" -> "count", "query.spill_mb" -> "MB", "query.gc_s" -> "s") ++
      Main.QueryGroups.map(g => s"query.${g}_wall_s" -> "s")
    val perQuery = Main.queryList(spec).flatMap(q => Seq(s"$q.wall_s" -> "s", s"$q.jobs" -> "count"))
    fixed ++ perQuery ++ Seq("trace_overhead" -> "ratio", "trace.op_self_share" -> "ratio")
  }
}
