package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One timed operation of a workload's closed loop. `ms` is the wall
  * time of the call into the engine only; correctness checks run
  * after the clock stops. `pass` numbers the loop cycle it ran in
  * (0 = set-up, never reported as a timing).
  */
final case class Op(name: String, cls: String, pass: Int, ms: Double,
    ok: Boolean, err: String, cells: Long) {
  /** A request of the workload's mix, as opposed to a fixture write
    * or a compaction the client schedules between requests. Only
    * requests enter the per-request latency figures.
    */
  def request: Boolean = !Op.NotRequests(cls)
}

object Op {
  val NotRequests = Set("write", "compact")
}

/** Thrown by a correctness check: the op ran but returned a wrong
  * answer. Counted as failed, like an exception from the engine.
  */
final class WrongResult(msg: String) extends RuntimeException(msg)

/** Runs and records the timed operations. With tracing on, each op
  * becomes a span and its Spark jobs run in their own job group.
  */
final class Recorder(val spark: SparkSession, val trace: Option[Trace]) {
  val ops = ArrayBuffer.empty[Op]
  var pass = 0

  /** Times `body`, then checks its result outside the clock. A throw
    * from either marks the op failed; a failed op keeps its time out
    * of every latency sample.
    */
  def timed[T](name: String, cls: String, cells: Long = 0L)(body: => T)(
      check: T => Unit): Op = {
    val span = trace.map(_.opStart(name, cls))
    val t0 = System.nanoTime()
    var err: String = null
    var res: Option[T] = None
    try res = Some(body)
    catch { case e: Throwable => err = describe(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    for (s <- span; t <- trace) t.opEnd(s)
    if (err == null)
      try check(res.get)
      catch { case e: Throwable => err = describe(e) }
    val op = Op(name, cls, pass, ms, err == null, err, cells)
    ops += op
    op
  }

  private def describe(e: Throwable): String = {
    val m = Option(e.getMessage).getOrElse("").linesIterator
      .take(1).mkString
    s"${e.getClass.getSimpleName}: ${m.take(300)}"
  }
}

/** A workload: builds its fixture `SetupRuns` times (`build`, each run
  * timed on its own; the last one is the fixture the passes use), then
  * prepares the rest of its set-up once (`prepare`: reference model,
  * warm-up) and runs passes of its operation mix until the deadline.
  */
trait Workload {
  /** Builds fixture number `i` from the seed, in a place of its own.
    * Every build writes the same data.
    */
  def build(i: Int): Unit
  /** The set-up that runs once, after the builds. */
  def prepare(): Unit
  /** One pass of the operation mix. */
  def pass(): Unit
  /** Workload-specific end-to-end figures, by name -> (value, unit). */
  def extra(): Map[String, (Double, String)] = Map.empty
  /** Per-layer figures only this workload can produce. */
  def layers(): Map[String, Double] = Map.empty
}

object Main {
  /** How many times a run builds its fixture; `setup_s` is the median. */
  val SetupRuns = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def arg(k: String) = a.getOrElse(k, sys.error(s"missing --$k"))
    val workload = arg("workload")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val tracing = arg("trace") == "1"
    val work = arg("work")
    val cpus = arg("cpus").toInt
    val out = arg("out")

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val trace = if (tracing) Some(new Trace(spark)) else None
    val rec = new Recorder(spark, trace)
    val w: Workload = workload match {
      case "scan_merge" => new ScanMerge(rec, seed, work, cpus)
      case "cql_mixed" => new CqlMixed(rec, seed, work)
      case other => sys.error(s"unknown workload $other")
    }
    println(f"session ready at JVM uptime " +
      f"${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s")
    val setupS = (0 until SetupRuns).map { i =>
      val t0 = System.nanoTime()
      w.build(i)
      (System.nanoTime() - t0) / 1e9
    }
    println(s"fixture builds: ${setupS.map(s => f"$s%.2f").mkString(" ")} s")
    val p0 = System.nanoTime()
    w.prepare()
    println(f"prepare (reference, warm-up) ${(System.nanoTime() - p0) / 1e9}%.1f s")
    println("PERFBENCH_READY")
    System.out.flush()

    trace.foreach(_.measureStart())
    // A pass starts only if a pass of the median length so far ends
    // within the window, so a run measures at most `seconds` (and at
    // least one pass) whatever a pass costs.
    val t0 = System.nanoTime()
    val passS = ArrayBuffer.empty[Double]
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (passS.isEmpty || elapsed + Stats.median(passS.toSeq) <= seconds) {
      val p0 = elapsed
      rec.pass += 1
      w.pass()
      passS += elapsed - p0
    }
    val measuredS = elapsed
    val liveHeapMb = Rss.liveHeapMb()
    println(f"measured $measuredS%.1f s in ${rec.pass} passes")
    val extra = w.extra()
    val layers = trace.map(t => t.finish(measuredS, cpus, s"$out.spans.json") ++
      w.layers()).getOrElse(Map.empty[String, Double])

    val json = new StringBuilder
    json ++= "{"
    json ++= s""""workload":${Json.str(workload)},"seed":$seed,"""
    json ++= s""""measured_s":$measuredS,"""
    json ++= s""""setup_runs_s":${setupS.mkString("[", ",", "]")},"""
    json ++= s""""live_heap_mb":$liveHeapMb,"peak_rss_mb":${Rss.mb("VmHWM")},"""
    json ++= "\"ops\":[" + rec.ops.map { o =>
      s"""{"name":${Json.str(o.name)},"cls":${Json.str(o.cls)},""" +
        s""""pass":${o.pass},"ms":${o.ms},"ok":${o.ok},""" +
        s""""request":${o.request},""" +
        s""""cells":${o.cells},"err":${Json.str(o.err)}}"""
    }.mkString(",") + "],"
    json ++= "\"extra\":" + Json.obj(extra.map { case (k, (v, u)) =>
      k -> s"""{"value":${Json.num(v)},"unit":${Json.str(u)}}"""
    }) + ","
    json ++= "\"layers\":" + Json.obj(layers.map { case (k, v) =>
      k -> Json.num(v) })
    json ++= "}"
    Files.write(Paths.get(out), json.toString.getBytes(UTF_8))
    spark.stop()
  }
}

object Json {
  def str(s: String): String =
    if (s == null) "null"
    else "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString
  def obj(m: Iterable[(String, String)]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => str(k) + ":" + v }
      .mkString("{", ",", "}")
}

object Rss {
  /** A field of this JVM's /proc status in MB (Linux). */
  def mb(field: String): Double = {
    import scala.jdk.CollectionConverters._
    val f = Paths.get("/proc/self/status")
    if (!Files.exists(f)) 0.0
    else Files.readAllLines(f).asScala.find(_.startsWith(field + ":"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }

  /** Heap still in use after a full collection: what the run retains,
    * independent of when the collector last ran.
    */
  def liveHeapMb(): Double = {
    // The second collection reclaims what Spark's cleaner released
    // after the first one (broadcast and shuffle blocks of dead plans).
    System.gc()
    Thread.sleep(500)
    System.gc()
    val m = java.lang.management.ManagementFactory.getMemoryMXBean
    m.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}

/** Order statistics shared by the workloads' own figures. */
object Stats {
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(p * s.length).toInt - 1)))
    }
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.length
}
