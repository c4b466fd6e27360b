package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** One operation of the timed loop. */
final case class OpRec(kind: String, op: Int, start: Long, end: Long,
    ok: Boolean, rows: Long, traced: Boolean, error: String)

/** State shared by a run's workload and the loop that drives it. */
final class Run(val workload: String, val seed: Long, val cores: Int,
    val data: Path, val work: Path) {
  val shufflePartitions: Int = 2 * cores
  val ops = mutable.ArrayBuffer.empty[OpRec]
  val notes = mutable.LinkedHashMap.empty[String, String]
  var tracer: Option[Tracer] = None
  /** Whether the operation now running records spans. */
  var tracing = false
  private var opCount = 0 // operation ids start at 1

  def session(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def span[T](name: String)(body: => T): T =
    if (tracing) tracer.get.span(name)(body) else body

  /** Runs one operation in closed loop, timing it and recording whether
    * it completed with a correct output. A thrown exception and a failed
    * check both count as a failed operation. */
  def op(kind: String, rows: Long)(body: => Boolean)
      : Boolean = {
    opCount += 1
    tracer.foreach(_.op = opCount)
    val t0 = System.nanoTime()
    val (ok, err) =
      try {
        val good = span(s"op.$kind")(body)
        (good, if (good) "" else "wrong output")
      } catch {
        case e: Throwable if scala.util.control.NonFatal(e) =>
          (false, s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
      }
    val t1 = System.nanoTime()
    ops += OpRec(kind, opCount, t0, t1, ok, rows, tracing, err)
    if (!ok) System.err.println(s"[perfbench] $kind failed: $err")
    ok
  }
}

/** A workload: inputs made from the seed, the first operation (timed as
  * part of set-up), the repeated operation mix, and the extra layer calls
  * a traced run makes. */
trait Workload {
  def prepare(run: Run, spark: SparkSession): Unit
  def first(run: Run, spark: SparkSession): Unit
  def step(run: Run, spark: SparkSession, rnd: scala.util.Random): Unit
  /** Steps the timed loop makes even when --seconds ran out, so a slow run
    * still has as many samples for its median as a typical one. */
  def minSteps: Int
  def decompose(run: Run, spark: SparkSession): Unit
  /** Seed, rows, bytes and content hash of the generated inputs. */
  def inputs: Seq[(String, String)]
}

object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map { case Array(k, v) => k -> v }.toMap
    val run = new Run(a("--workload"), a("--seed").toLong,
      a("--cores").toInt, Inputs.path(a("--data")), Inputs.path(a("--work")))
    val seconds = a("--seconds").toDouble
    val traced = a("--trace") == "1"
    val wl: Workload = run.workload match {
      case "profile" => new ProfileWorkload
      case "corpus_funnel" => new FunnelWorkload
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    Files.createDirectories(run.work)

    val tPrep = System.nanoTime()
    val prep = run.session()
    wl.prepare(run, prep)
    prep.stop()
    System.err.println(f"[perfbench] inputs ready in ${(System.nanoTime() - tPrep) / 1e9}%.1f s")

    // set-up: what a user of a fresh process waits for, from building the
    // session to the first completed operation
    val tSetup = System.nanoTime()
    val spark = run.session()
    wl.first(run, spark)
    val setupS = (System.nanoTime() - tSetup) / 1e9
    // the set-up operation is checked but not part of the timed loop
    val untimedOps = run.ops.size
    if (traced) {
      val t = new Tracer(spark.sparkContext)
      spark.sparkContext.addSparkListener(t)
      run.tracer = Some(t)
    }
    val rnd = new scala.util.Random(run.seed)
    val t0 = System.nanoTime()
    var i = 0
    // a traced run alternates untraced and traced steps, at least three,
    // so each traced step can be compared with the untraced steps around it
    val minSteps = if (traced) math.max(3, wl.minSteps) else wl.minSteps
    while ((System.nanoTime() - t0) / 1e9 < seconds || i < minSteps) {
      run.tracing = traced && i % 2 == 1
      wl.step(run, spark, rnd)
      i += 1
    }
    val timedS = (System.nanoTime() - t0) / 1e9
    if (traced) {
      run.tracing = true
      run.tracer.get.op = 0
      wl.decompose(run, spark)
    }
    spark.stop() // drains the listener bus

    val out = Json.objStr(Seq(
      "workload" -> Json.str(run.workload),
      "trace" -> traced.toString,
      "timed_s" -> Json.num(timedS),
      "setup_s" -> Json.num(setupS),
      "settings" -> Json.strMap(Seq(
        "cores" -> run.cores.toString,
        "shuffle_partitions" -> run.shufflePartitions.toString,
        "max_heap_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
        "gc" -> ManagementFactory.getGarbageCollectorMXBeans.asScala
          .map(_.getName).mkString(","),
        "spark" -> spark.version,
        "java" -> System.getProperty("java.version"),
        "seconds" -> seconds.toString)),
      "inputs" -> Json.strMap(wl.inputs),
      "notes" -> Json.strMap(run.notes.toSeq),
      "ops" -> Json.arr(run.ops.drop(untimedOps).map(o => Json.objStr(Seq(
        "kind" -> Json.str(o.kind), "op" -> o.op.toString,
        "start_ns" -> o.start.toString, "end_ns" -> o.end.toString,
        "ok" -> o.ok.toString, "rows" -> o.rows.toString,
        "traced" -> o.traced.toString,
        "error" -> Json.str(o.error))))),
      "untimed_ops" -> Json.arr(run.ops.take(untimedOps).map(o =>
        Json.objStr(Seq("kind" -> Json.str(o.kind), "ok" -> o.ok.toString,
          "error" -> Json.str(o.error))))),
      "spans" -> Json.arr(run.tracer.toSeq.flatMap(_.spans).map(s =>
        Json.objStr(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
          "name" -> Json.str(s.name), "op" -> s.op.toString,
          "start_ns" -> s.start.toString, "end_ns" -> s.end.toString)))),
      "jobs" -> Json.arr(run.tracer.toSeq.flatMap(_.jobs.values).map(j =>
        Json.objStr(Seq("id" -> j.id.toString, "span" -> j.span.toString,
          "desc" -> Json.str(j.desc), "start_ns" -> j.start.toString,
          "end_ns" -> j.end.toString)))),
      "counters" -> Json.arr(run.tracer.toSeq.flatMap(_.counters).map {
        case (span, c) => Json.objStr(("span" -> span.toString) +:
          c.fields.map { case (k, v) => k -> v.toString })
      })
    ))
    Files.writeString(Inputs.path(a("--out")), out)
  }
}

/** Minimal JSON writer for the run record. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  def objStr(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def strMap(kv: Seq[(String, String)]): String =
    objStr(kv.map { case (k, v) => k -> str(v) })
}
