package graftbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One timed operation. `seconds` covers the op only — output checks
  * run afterwards, outside it. A throw or a failed check marks the op
  * failed; it is never counted as a fast success. */
final case class OpRec(id: Long, pass: Int, name: String, layer: String,
    seconds: Double, var ok: Boolean, var checked: Boolean,
    var error: String, traced: Boolean,
    var extra: Map[String, Any] = Map.empty) {
  def fail(why: String): Unit = { ok = false; if (error == null) error = why }
  def toJson: Map[String, Any] = Map("id" -> id, "pass" -> pass,
    "name" -> name, "layer" -> layer, "seconds" -> seconds, "ok" -> ok,
    "checked" -> checked, "error" -> error, "traced" -> traced,
    "extra" -> extra)
}

/** What a workload sees: the session, its inputs and a fresh work
  * directory that is deleted when the run ends. */
final class Ctx(val spark: SparkSession, val dataDir: String,
    val workDir: String, val benchDir: String, val seed: Long,
    val tracing: Option[Tracing],
    val streamSpans: Option[StreamSpans]) {
  private val nextOp = new java.util.concurrent.atomic.AtomicLong(0)
  val ops = ArrayBuffer.empty[OpRec]
  /** Wall time of each pass's ops (checks excluded), by pass. */
  val passSeconds = scala.collection.mutable.LinkedHashMap.empty[Int, Double]
  val passTraced = scala.collection.mutable.LinkedHashMap.empty[Int, Boolean]
  var counters: Map[String, Any] = Map.empty

  /** Run one op: job group and op id set for its jobs, timed with
    * `System.nanoTime`, a throw recorded as a failure. */
  def op(pass: Int, name: String, layer: String)(body: Long => Unit): OpRec = {
    val id = nextOp.incrementAndGet()
    val sc = spark.sparkContext
    sc.setJobGroup(s"op-$id", s"$name pass $pass")
    sc.setLocalProperty(Trace.OpProp, id.toString)
    val t0 = System.nanoTime()
    val err = try {
      Trace.span(layer, id)(_ => body(id))
      null
    } catch { case NonFatal(e) => s"${e.getClass.getSimpleName}: ${e.getMessage}" }
    val dt = (System.nanoTime() - t0) / 1e9
    sc.clearJobGroup()
    sc.setLocalProperty(Trace.OpProp, null)
    val rec = OpRec(id, pass, name, layer, dt, err == null, false,
      Option(err).map(_.take(500)).orNull, Trace.on)
    ops += rec
    passSeconds(pass) = passSeconds.getOrElse(pass, 0.0) + dt
    System.err.println(f"[op] pass $pass $name $dt%.3f s${Option(err).map(" FAILED " + _).getOrElse("")}")
    rec
  }

  /** Run an output check outside the timed region. */
  def check(rec: OpRec)(body: => Option[String]): Unit = {
    rec.checked = true
    // its jobs carry no op id, so the trace leaves them out
    if (rec.ok)
      try body.foreach(rec.fail)
      catch { case NonFatal(e) => rec.fail(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
  }

  /** Passes 1..(1+warm): pass 1 is cold; in a traced run pass 1 and
    * every odd warm pass are traced and the even warm passes run with
    * no listener at all, which prices the tracing. */
  def passes(warm: Int)(body: Int => Unit): Unit =
    (1 to 1 + warm).foreach { p =>
      val traced = tracing.isDefined && (p == 1 || (p - 1) % 2 == 1)
      if (traced) tracing.get.start()
      passTraced(p) = traced
      passSeconds(p) = 0.0
      try body(p) finally if (traced) tracing.get.stop()
    }

  /** `cached_mb` as measured by the workload while its standing state
    * is still referenced (None: measured after the run). */
  var heldMb: Option[Double] = None

  def storageMb(): Double = {
    val info = spark.sparkContext.getRDDStorageInfo
    info.map(r => r.memSize + r.diskSize).sum / 1e6
  }

  /** Block storage once unreachable frames are gone: a GC lets Spark's
    * ContextCleaner drop the blocks of frames nothing references, so
    * what remains is what the program still holds, not what the
    * collector had not reached yet. */
  def settledStorageMb(): Double = {
    var last = -1.0
    var now = storageMb()
    var tries = 0
    while (now != last && tries < 20) {
      System.gc()
      Thread.sleep(200)
      last = now
      now = storageMb()
      tries += 1
    }
    now
  }
}

/** A workload: generate inputs from the seed (part of set-up), then
  * run its passes. */
trait Workload {
  def name: String
  /** Deterministic inputs for the seed, as a canonical string (the
    * same seed must give byte-identical output). */
  def generate(ctx: Ctx): String
  /** Touch what the ops read, so set-up pays first-read costs. */
  def warmTouch(ctx: Ctx): Unit
  def run(ctx: Ctx, warmPasses: Int): Unit
}

object Dirs {
  def sizeOf(f: java.io.File): (Long, Int) =
    if (!f.exists()) (0L, 0)
    else if (f.isFile) (f.length(), if (f.getName.endsWith(".parquet")) 1 else 0)
    else Option(f.listFiles()).map(_.toSeq).getOrElse(Nil)
      .map(sizeOf).foldLeft((0L, 0)) { case ((a, b), (c, d)) => (a + c, b + d) }

  def delete(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }
}
