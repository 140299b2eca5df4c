package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.ListenerBusAccess
import org.apache.spark.sql.SparkSession

import graft.Sessions

/** The benchmark's JVM side: one workload, closed loop, one workflow in
  * flight.
  *
  *   perfbench.Main --workload W --data DIR --work DIR --out FILE
  *                  [--seconds S] [--trace 0|1] [--dump 0|1]
  *
  * Set-up is JVM start to session ready with the inputs registered. The
  * first execution in the fresh session is the cold one; warm
  * executions then repeat until `--seconds` have passed, at least one. Every
  * execution's outputs are verified after its timing stops, its cached
  * storage and post-GC heap are sampled, and its cleanup handles run;
  * the session cache and every persisted RDD (checkpoints included)
  * are then dropped, so no execution is served by an earlier one's
  * persists. With `--trace 1`
  * the benchmark's Probe listens throughout and warm executions
  * alternate untraced and traced ([[Tracer]]); the result then carries
  * the per-layer record. Results go to `--out` as one JSON object.
  */
object Main {
  private val MB = 1048576.0

  final case class Exec(
      idx: Int, traced: Boolean, wallS: Double, digest: String,
      errors: Seq[String], cachedMb: Double, heapMb: Double, counters: Map[String, Double])

  def main(args: Array[String]): Unit = {
    val opt = args.sliding(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap
    val workDir = new File(opt("work"))
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val w = Workload(opt("workload"), new File(opt("data")), workDir)
    val spark = session(cores, workDir)
    w.register(spark)
    val setupS = (System.currentTimeMillis - jvmStartMs) / 1000.0

    val seconds = opt.getOrElse("seconds", "10").toDouble
    val trace = opt.getOrElse("trace", "0") == "1"
    val probe = if (trace) Some(new Probe) else None
    probe.foreach { p =>
      spark.sparkContext.addSparkListener(p)
      spark.listenerManager.register(p)
    }
    val tracer = new Tracer(spark)
    val execs = mutable.ArrayBuffer.empty[Exec]
    def run(traced: Boolean): Unit = execs += execute(spark, w, tracer, probe, execs.size, traced)

    run(traced = false)
    val loopStart = System.nanoTime()
    def elapsed = (System.nanoTime() - loopStart) / 1e9
    do {
      run(traced = false)
      if (trace) run(traced = true)
    } while (elapsed < seconds)

    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> opt("workload"),
      "cores" -> cores,
      "setup_s" -> setupS,
      "input_rows" -> w.inputRows,
      "input_bytes" -> w.inputBytes,
      "cold_s" -> execs.head.wallS,
      "warm_s" -> execs.tail.filterNot(_.traced).map(_.wallS),
      "heap_mb" -> execs.tail.filterNot(_.traced).map(_.heapMb),
      "attempted" -> execs.size,
      "failed" -> execs.count(_.errors.nonEmpty),
      "errors" -> execs.flatMap(e => e.errors.map(m => s"execution ${e.idx}: $m")).take(20),
      "digests" -> execs.map(_.digest).distinct)
    if (trace) {
      val spansFile = new File(workDir, "spans.jsonl")
      Files.writeString(spansFile.toPath, Layers.spansJsonl(tracer.spans.toSeq, probe.get))
      result("per_layer") = Layers.metrics(execs.toSeq, tracer.spans.toSeq, probe.get, w, cores)
      result("spans_file") = spansFile.getPath
    }
    if (opt.get("dump").contains("1")) w.dump(spark, workDir)
    spark.stop()
    Files.writeString(new File(opt("out")).toPath, Json(result.toMap))
  }

  def session(cores: Int, workDir: File): SparkSession = {
    val local = new File(workDir, "spark-local")
    local.mkdirs()
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local.getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(workDir, "warehouse").getAbsolutePath)
    val spark = Sessions.production(b, cores).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def execute(spark: SparkSession, w: Workload, tracer: Tracer, probe: Option[Probe],
      idx: Int, traced: Boolean): Exec = {
    val sc = spark.sparkContext
    sc.setLocalProperty("perfbench.exec", idx.toString)
    tracer.begin(idx, traced)
    val t0 = System.nanoTime()
    val outcome = try Right(w.execute(spark, tracer)) catch { case e: Throwable => Left(e) }
    val wallS = (System.nanoTime() - t0) / 1e9
    tracer.end()
    sc.setLocalProperty("perfbench.exec", null)
    val errors = outcome.fold(e => Seq(s"threw ${e.toString.take(500)}"), o =>
      try o.check() catch { case e: Throwable => Seq(s"check threw ${e.toString.take(500)}") })
    val cachedMb = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / MB
    // the Probe holds the execution's queries until they are settled;
    // settle them first so the heap sample does not count them
    probe.foreach { p =>
      ListenerBusAccess.drain(sc)
      p.settleQueries()
    }
    System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / MB
    outcome.foreach(o => try o.cleanup() catch { case _: Throwable => () })
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.err.println(f"perfbench: execution $idx%d traced=$traced wall=$wallS%.3f s " +
      s"errors=${errors.size}")
    Exec(idx, traced, wallS, outcome.fold(_ => "", _.digest), errors, cachedMb, heapMb,
      outcome.fold(_ => Map.empty[String, Double], _.counters))
  }
}

/** Minimal JSON writer for the harness result (numbers, strings,
  * booleans, sequences and string-keyed maps). */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case x => quote(x.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
