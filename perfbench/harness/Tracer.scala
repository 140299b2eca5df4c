package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.storage.StorageLevel

/** One call into a layer's public function. Times are System.nanoTime:
  * `t0` start, `t1` end of the call itself, `t2` end of the noop
  * materialization of a returned DataFrame (`t2 == t1` otherwise). */
final class Span(
    val id: Int, val exec: Int, val layer: String, val name: String,
    val inputs: Seq[Span]) {
  var t0 = 0L
  var t1 = 0L
  var t2 = 0L
  var rows = 0L
  def bodyGroup: String = s"s$id.body"
  def matGroup: String = s"s$id.mat"
}

/** Spans around the benchmark's calls into the program's layers.
  *
  * Inactive (the untraced runs) it only evaluates the call. Active, it
  * sets the job group to the span id while the call runs, so the
  * [[Probe]] attributes the call's eager jobs to it; a returned
  * DataFrame is then materialized through the `noop` sink under a
  * second group. That materializes the cumulative prefix of the
  * workflow up to this call: the span's own share of the lazy work is
  * its prefix cost minus the prefix costs of the frames it consumed
  * (prefix differencing, done in [[Layers]]), except for consumed
  * frames that are persisted. */
final class Tracer(spark: SparkSession) {
  private var active = false
  private var exec = 0
  val spans = mutable.ArrayBuffer.empty[Span]
  private val producer = new java.util.IdentityHashMap[AnyRef, Span]()
  private var nextObservation = 0

  /** Trace (or not) the calls of workflow execution `idx`. */
  def begin(idx: Int, traced: Boolean): Unit = {
    exec = idx
    active = traced
    producer.clear() // frames of earlier executions are not inputs
  }

  def end(): Unit = begin(exec, traced = false)

  /** Call `body`, a call into `layer`'s public function `name` that
    * consumes `inputs`. */
  def apply[T](layer: String, name: String, inputs: DataFrame*)(body: => T): T =
    if (!active) body
    else {
      val sc = spark.sparkContext
      // a persisted input is read from its cache, so its prefix is
      // not part of this call's materialization
      val s = new Span(spans.size + 1, exec, layer, name,
        inputs.filter(_.storageLevel == StorageLevel.NONE).flatMap(i => Option(producer.get(i))))
      try {
        sc.setJobGroup(s.bodyGroup, name, interruptOnCancel = false)
        s.t0 = System.nanoTime()
        val out = body
        s.t1 = System.nanoTime()
        out match {
          case df: DataFrame =>
            sc.setJobGroup(s.matGroup, name, interruptOnCancel = false)
            nextObservation += 1
            val o = Observation(s"perfbench_rows_$nextObservation")
            df.observe(o, count(lit(1)).as("n")).write.format("noop").mode("overwrite").save()
            s.rows = o.get("n").asInstanceOf[Long]
            producer.put(df, s)
          case _ =>
        }
        s.t2 = System.nanoTime()
        System.err.println(f"perfbench: span ${s.id}%d $name call=${(s.t1 - s.t0) / 1e9}%.3f s " +
          f"materialize=${(s.t2 - s.t1) / 1e9}%.3f s")
        out
      } finally {
        sc.clearJobGroup()
        spans += s
      }
    }

  /** Record the row count of a call whose output is not a DataFrame
    * (a collected table, a model); applies to the latest span. */
  def rows(n: Long): Unit = if (active && spans.nonEmpty) spans.last.rows = n
}
