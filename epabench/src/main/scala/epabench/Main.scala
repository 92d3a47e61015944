package epabench

import java.io.File
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** One benchmark run: set up once (`setup_s`: session start, catalog
  * registration, a warm-up), then drive the workload's closed loop for
  * at least `--seconds`, in whole rounds, check the outputs outside the
  * timed region, and write a result JSON for `run.py`. With `--trace 1`
  * a second loop of the same kind runs with the listeners of [[Tracer]]
  * registered; its numbers are the per-layer metrics, and the two
  * loops' medians give the overhead.
  * With `--setup-only 1` it sets up and exits: the build runs it so to
  * record the class-data archive every measured run maps.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val env = new Env(
      workload = opt("workload"), seconds = opt("seconds").toDouble,
      trace = opt("trace") == "1", input = Paths.get(opt("input")),
      work = Paths.get(opt("work")))
    val out = Paths.get(opt("result"))
    val w: Workload = env.workload match {
      case "epa_batch" => new BatchDag(env)
      case "lake_refresh" => new LakeRefresh(env)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val sessionS = Env.time(env.startSession())
    val warmS = Env.time(w.setup())
    if (opt.get("setup-only").contains("1")) { env.stopSession(); return }
    val res = new Result
    res.num("setup_s", sessionS + warmS)
    res.num("setup_session_s", sessionS)
    val untraced = w.measure(env.seconds)
    val traced = Option.when(env.trace) {
      val tracer = new Tracer(env.spark, s"${env.workload}-${System.currentTimeMillis()}")
      w.tracer = tracer
      tracer.install()
      val l = w.measure(env.seconds)
      tracer.uninstall()
      tracer.writeSpans(env.work.resolve("trace").resolve("spans.jsonl"))
      w.layerMetrics(tracer, l, res)
      val u = Stats.median(untraced.opLatenciesMs)
      res.num("trace.overhead_share", (Stats.median(l.opLatenciesMs) - u) / u)
      res.num("trace.untraced_op_p50_ms", u)
      l
    }
    w.endToEnd(untraced, res)
    res.list("op_ms", untraced.opLatenciesMs.toSeq)
    res.num("peak_rss_mb", Env.peakRssMb())
    var problems = Seq.empty[String]
    res.num("check_s", Env.time { problems = w.check() })
    res.num("attempted", untraced.attempted + traced.map(_.attempted).getOrElse(0L))
    res.num("failed", untraced.failed + traced.map(_.failed).getOrElse(0L))
    res.list("problems", problems)
    res.str("digest", w.digest)
    res.write(out)
    env.stopSession()
  }
}

/** Paths, the session, and helpers every workload shares. */
final class Env(val workload: String, val seconds: Double, val trace: Boolean,
                val input: Path, val work: Path) {
  var spark: SparkSession = _
  val cores: Int = Runtime.getRuntime.availableProcessors()
  val manifest: JsonNode = new ObjectMapper().readTree(input.resolve("manifest.json").toFile)

  def startSession(): Unit = {
    Files.createDirectories(work)
    System.setProperty("derby.system.home", work.resolve("derby").toString)
    spark = GraftSession.builder(s"epabench-$workload")
      .master(s"local[$cores]")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  def stopSession(): Unit = if (spark != null) {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = null
  }

  def dir(parts: String*): String = {
    val p = parts.foldLeft(work)(_.resolve(_))
    Files.createDirectories(p.getParent)
    p.toString
  }

  def files(node: JsonNode): Seq[(String, String)] =
    node.elements().asScala.map(a => a.get(0).asText() -> a.get(1).asText()).toSeq
}

object Env {
  def time(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  def dirBytes(p: String): Long = {
    val root = new File(p)
    if (!root.exists()) 0L
    else Files.walk(root.toPath).iterator().asScala
      .filter(Files.isRegularFile(_)).map(Files.size).sum
  }

  /** A short, JVM-independent digest of `parts`. */
  def digest(parts: Seq[String]): String =
    f"${scala.util.hashing.MurmurHash3.orderedHash(parts)}%08x"

  /** Peak resident set of this JVM (Linux `VmHWM`), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Double.NaN)
}

/** What one closed loop measured. `opLatenciesMs` holds the workload's
  * unit operation (a DAG pass or a refresh iteration);
  * `byKind` splits it where an operation has parts.
  */
final class Loop {
  val opLatenciesMs = ArrayBuffer[Double]()
  val byKind = scala.collection.mutable.LinkedHashMap[String, ArrayBuffer[Double]]()
  var attempted = 0L
  var failed = 0L
  var wallS = 0.0
  var rows = 0L
  def add(kind: String, ms: Double): Unit =
    byKind.getOrElseUpdate(kind, ArrayBuffer[Double]()) += ms
}

trait Workload {
  var tracer: Tracer = Tracer.Off
  /** Catalog registration and a warm-up; timed as part of `setup_s`. */
  def setup(): Unit
  def measure(seconds: Double): Loop
  def endToEnd(l: Loop, res: Result): Unit
  def layerMetrics(t: Tracer, l: Loop, res: Result): Unit
  /** Output checks, run after the timed loops; returns the problems. */
  def check(): Seq[String]
  /** A digest of the outputs, after [[check]]: equal for equal seeds. */
  def digest: String = ""

  /** Run `op` in a closed loop until `seconds` have passed and the
    * operation count is a whole number of `round`s, so that every loop
    * holds the same mix of operations.
    */
  protected def closedLoop(seconds: Double, round: Int)(op: Loop => Unit): Loop = {
    val l = new Loop
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e9 < seconds || l.attempted % round != 0) {
      l.attempted += 1
      try op(l)
      catch {
        case scala.util.control.NonFatal(e) =>
          l.failed += 1
          System.err.println(s"[epabench] operation ${l.attempted} failed: $e")
          e.printStackTrace()
      }
    }
    l.wallS = (System.nanoTime() - t0) / 1e9
    l
  }
}

/** The result file: numbers, lists and strings, written as one JSON object. */
final class Result {
  private val mapper = new ObjectMapper()
  private val root = mapper.createObjectNode()
  def num(k: String, v: Double): Unit = root.put(k, v)
  def list(k: String, vs: Seq[Any]): Unit = {
    val a = root.putArray(k)
    vs.foreach {
      case d: Double => a.add(d)
      case n: Long => a.add(n)
      case n: Int => a.add(n)
      case s => a.add(s.toString)
    }
  }
  def str(k: String, v: String): Unit = root.put(k, v)
  def write(p: Path): Unit = {
    Files.createDirectories(p.getParent)
    mapper.writerWithDefaultPrettyPrinter().writeValue(p.toFile, root)
  }
}

object Stats {
  def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)

  def quantile(xs: Iterable[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.toIndexedSeq.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

}
