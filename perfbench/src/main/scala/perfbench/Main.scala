package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** The benchmark's JVM side: one workload, one closed-loop client.
  *
  * Set-up (session, fixtures, one untimed warm-up pass over every
  * distinct request) is followed by timed rounds; each round runs the
  * workload's requests in an order drawn from the seed, and the round
  * count covers `--seconds` at the workload's nominal round wall, fixed
  * before timing so every run does the same work. Every operation's output
  * is checked after its timed window. With `--trace 1` (at least two
  * rounds) listeners are attached around alternate runs of each
  * request, and the untraced runs measure the tracing overhead.
  *
  * Raw records (per-op wall, CPU, outcome; spans; counters) go to
  * `--out` as JSON; `perfbench/run.py` turns them into metrics.
  * `--generate DIR` instead dumps every distinct request's output and
  * digest to DIR for the oracle cross-check (`perfbench/gen_expected.py`).
  */
object Main {
  private final case class Args(workload: String, seed: Long, seconds: Double,
                                trace: Boolean, data: String, scratch: String,
                                expected: String, out: String, spawnMs: Long,
                                cores: Int, generate: Option[String])

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, m.getOrElse("seconds", "10").toDouble,
      m.get("trace").contains("1"), need("data"), need("scratch"),
      m.getOrElse("expected", ""), m.getOrElse("out", ""),
      m.get("spawn-ms").map(_.toLong).getOrElse(System.currentTimeMillis()),
      m.getOrElse("cores", "4").toInt, m.get("generate"))
  }

  private val osBean = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuSeconds: Double = osBean.getProcessCpuTime / 1e9

  /** The JIT compiler threads' `stat` files. perfbench/run.py starts the
    * JVM with a fixed set of compiler threads, so none starts or exits
    * mid-run.
    */
  private lazy val compilerStats: Seq[java.nio.file.Path] = {
    val tasks = Files.list(Paths.get("/proc/self/task"))
    // other threads may exit between the listing and the read
    try tasks.iterator().asScala.toSeq.filter { t =>
      scala.util.Try(new String(Files.readAllBytes(t.resolve("comm")), StandardCharsets.UTF_8))
        .toOption.exists(c => c.startsWith("C1 CompilerThre") || c.startsWith("C2 CompilerThre"))
    }.map(_.resolve("stat"))
    finally tasks.close()
  }.ensuring(_.nonEmpty, "no JIT compiler threads in /proc/self/task")

  /** CPU seconds the JIT compiler threads have used (utime + stime, in
    * the kernel's 100 Hz clock ticks).
    */
  private def jitSeconds: Double = compilerStats.map { p =>
    val st = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
    val f = st.substring(st.lastIndexOf(')') + 2).split(" ")
    f(11).toLong + f(12).toLong
  }.sum / 100.0

  private def vmHwmKb: Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)

  private val json = new ObjectMapper()

  /** Scala values to the Java collections Jackson writes. */
  private def toJava(v: Any): Any = v match {
    case m: Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, Any]
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case o: Option[_]   => o.map(toJava).orNull
    case x              => x
  }

  private def readExpected(path: String): Map[String, String] =
    if (path.isEmpty || !Files.isRegularFile(Paths.get(path))) Map.empty
    else json.readValue(Paths.get(path).toFile, classOf[java.util.Map[String, String]])
      .asScala.toMap

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(Paths.get(a.scratch))
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftSparkExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try a.generate match {
      case Some(dir) => generate(spark, a, dir)
      case None      => measure(spark, a)
    } finally spark.stop()
  }

  private def workload(spark: SparkSession, a: Args): Workload = a.workload match {
    case "lake_write_read" => new LakeMix(spark, a.data, a.scratch, a.seed)
    case name =>
      val (menu, roundSeconds) = Menus.byName(name)
      new MenuWorkload(spark, a.data, menu, roundSeconds, readExpected(a.expected))
  }

  private def measure(spark: SparkSession, a: Args): Unit = {
    val sc = spark.sparkContext
    val sessionMs = System.currentTimeMillis()
    val w = workload(spark, a)
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    val codegen = new CodegenDelta
    val ops = ArrayBuffer.empty[Map[String, Any]]

    /** One operation: prepare, timed run, then the untimed check and
      * storage clean-up (iterative operators leave checkpointed RDDs;
      * each op starts from a clean storage slate).
      */
    def execute(op: Op, t: Option[Tracer], round: Int): Map[String, Any] = {
      op.prepare()
      t.foreach(_.attach())
      codegen.next()
      val cpu0 = cpuSeconds
      val jit0 = jitSeconds
      val start = Clock.nowUs
      val error = try { op.run(t); None }
        catch { case NonFatal(e) => Some(s"${op.key}: ${e.toString.take(500)}") }
      val end = Clock.nowUs
      val cpu = cpuSeconds - cpu0
      val jit = jitSeconds - jit0
      val (classes, compileMs) = codegen.next()
      t.foreach(_.detach())
      val persisted = sc.getPersistentRDDs.size
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      val failure = error.orElse(
        try op.check() catch { case NonFatal(e) => Some(s"${op.key}: check ${e.toString.take(500)}") })
      System.err.println(f"[perfbench] round $round%d ${op.key} ${(end - start) / 1e6}%.3f s" +
        failure.map(" FAILED " + _).getOrElse(""))
      Map("key" -> op.key, "kind" -> op.kind, "round" -> round,
        "traced" -> t.isDefined, "start_us" -> start, "end_us" -> end,
        "cpu_s" -> cpu, "jit_cpu_s" -> jit, "ok" -> failure.isEmpty, "error" -> failure,
        "codegen_classes" -> classes, "codegen_ms" -> compileMs,
        "persisted_rdds" -> persisted) ++ op.attrs
    }

    w.setup()
    val fixturesMs = System.currentTimeMillis()
    val warm = w.warmup().map(op => execute(op, None, -1))
    val firstOpMs = System.currentTimeMillis()

    // traced runs trace a request's runs alternately (starting traced or
    // not by its key), so each request has traced and untraced runs
    val runsOf = mutable.Map.empty[String, Int].withDefaultValue(0)
    def traced(key: String) = tracer.filter(_ => (runsOf(key) + key.hashCode) % 2 == 0)
    val rng = new Random(a.seed)
    val rounds = math.max(if (a.trace) 2 else 1,
      math.ceil(a.seconds / w.nominalRoundSeconds).toInt)
    for (round <- 0 until rounds; op <- w.round(rng)) {
      ops += execute(op, traced(op.key), round)
      runsOf(op.key) += 1
    }
    val finals = w.finish()
    finals.foreach(f => System.err.println(s"[perfbench] FAILED $f"))

    val raw = Map(
      "workload" -> a.workload, "seed" -> a.seed, "cores" -> a.cores,
      "heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "spawn_ms" -> a.spawnMs, "session_ms" -> sessionMs,
      "fixtures_ms" -> fixturesMs, "first_op_ms" -> firstOpMs,
      "warmup_ops" -> warm, "rounds" -> rounds, "ops" -> ops,
      "final_failures" -> finals, "peak_rss_kb" -> vmHwmKb,
      "stats" -> w.stats(),
      "spans" -> tracer.toSeq.flatMap(_.spans).map(s => Map(
        "name" -> s.name, "layer" -> s.layer, "start_us" -> s.startUs,
        "end_us" -> s.endUs) ++ s.attrs))
    Files.write(Paths.get(a.out), json.writeValueAsBytes(toJava(raw)))
  }

  /** Dump every distinct request's output (the compared columns) as
    * parquet under `dir`, with its digest and DuckDB oracle SQL in
    * `dir/manifest.json`.
    */
  private def generate(spark: SparkSession, a: Args, dir: String): Unit = {
    val (menu, _) = Menus.byName(a.workload)
    SparkEntry.oracleSfDir = a.data
    val registrySql = SparkEntry.oracleSql(spark, Some(menu.flatMap(_.query).toSet))
    val manifest = menu.zipWithIndex.map { case (r, i) =>
      val (out, obs) = Digest.observe(r.build(spark, a.data, None), r.digestCols)
      val path = s"$dir/r$i"
      r.digestCols.fold(out)(cs => out.select(cs.map(c => out.col(s"`$c`")): _*))
        .write.parquet(path)
      r.key -> Map("digest" -> Digest.render(obs), "path" -> path,
        "sql" -> r.sql.orElse(r.query.flatMap(registrySql.get)))
    }.toMap
    Files.write(Paths.get(s"$dir/manifest.json"),
      json.writerWithDefaultPrettyPrinter().writeValueAsString(toJava(manifest))
        .getBytes(StandardCharsets.UTF_8))
  }
}
