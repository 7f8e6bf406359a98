package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import graft.{Bench, GraftSession}

/** One operation of a workload. `ok` is false when the call raised or
  * its output failed the workload's check. */
final case class Op(kind: String, name: String, seconds: Double, ok: Boolean,
    rows: Long, detail: Map[String, Any] = Map.empty) {
  def toJson: Map[String, Any] = Map("kind" -> kind, "name" -> name,
    "s" -> seconds, "ok" -> ok, "rows" -> rows) ++ detail
}

/** A workload drives one layer stack through its public API. */
trait Workload {
  /** Builds the run's fixed state from the generated inputs. Called
    * `Main.StateReps` times; every call must leave the same state. */
  def buildState(rep: Int): Unit

  /** The run's one timed round; each call it makes is one or more Ops. */
  def round(): Seq[Op]

  /** State counts after the round, taken outside its wall time. */
  def afterRound(): Map[String, Any] = Map.empty

  /** End-of-run output check over every op of the run, outside the
    * timed round. Returns the ops with wrong outputs marked. */
  def verify(ops: Seq[Op]): Seq[Op] = ops
}

object Main {
  /** Set-up repetitions per run; `setup_s` takes their median. */
  val StateReps = 3

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  private def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum

  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val trace = opt("trace") == "1"
    val work = opt("work")
    val out = opt("out")
    val cores = Runtime.getRuntime.availableProcessors

    val spark = GraftSession.builder(s"local[$cores]", cores.toString)
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionStartS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val sessionCpuS = cpuNs() / 1e9
    val calBefore = Bench.calibrate()

    val rec = new Recorder(spark)
    val w: Workload = workload match {
      case "oms_dir" => new OmsDir(spark, rec, work)
      case "doc_stream" => new DocStream(spark, rec, opt("sf-dir"), work, seed)
      case other => throw new IllegalArgumentException(s"workload $other")
    }
    def cpuTimed[T](body: => T): (T, Double, Double) = {
      val c0 = cpuNs()
      val (v, wall) = timed(body)
      (v, wall, (cpuNs() - c0) / 1e9)
    }
    val state = (0 until StateReps).map(i => cpuTimed(w.buildState(i)))

    // One cold round, closed loop: each call starts when the previous one
    // has returned. A traced run registers the listeners and records spans
    // from the round's start, so its figures describe the same cold round
    // an untraced run times.
    if (trace) rec.start()
    val c0 = rec.drained()
    val gc0 = gcMs()
    val cpu0 = cpuNs()
    val ms0 = System.currentTimeMillis()
    val (ops, wall) = timed(w.round())
    val ms1 = System.currentTimeMillis()
    val cpu1 = cpuNs()
    val gc1 = gcMs()
    val c1 = rec.drained()
    val extras = w.afterRound()
    val busy = rec.sparkCounters.fold(0L)(_.busyWallMs(ms0, ms1))
    val round = Map("traced" -> trace, "wall_s" -> wall,
      "cpu_s" -> (cpu1 - cpu0) / 1e9, "gc_s" -> (gc1 - gc0) / 1000.0,
      "counters" -> c1.map { case (k, v) => k -> (v - c0.getOrElse(k, 0L)) },
      "no_task_s" -> (if (trace) (ms1 - ms0 - busy) / 1000.0 else 0.0),
      "extras" -> extras)
    val checked = w.verify(ops)
    val calAfter = Bench.calibrate()

    val report = Map(
      "workload" -> workload, "seed" -> seed, "cores" -> cores,
      "session_start_s" -> sessionStartS, "session_cpu_s" -> sessionCpuS,
      "state_s" -> state.map(_._2), "state_cpu_s" -> state.map(_._3),
      "cal" -> Seq(calBefore, calAfter),
      "round" -> round, "ops" -> checked.map(_.toJson),
      "spans" -> rec.spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "layer" -> s.layer, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs)),
      "rss_peak_mb" -> vmHwmMb())
    Files.writeString(Paths.get(out), new ObjectMapper()
      .registerModule(DefaultScalaModule).writeValueAsString(report))
    spark.stop()
  }
}
