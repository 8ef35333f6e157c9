package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.Tables
import graft.ext.{Dedup, Linkage}
import graft.streaming.StreamOps

/** `incremental`: a seeded CDC schedule over a fixed sample of
  * `customer` (entity resolution, `StreamOps.erMaintainCdcStream`) and
  * of `documents` (LSH, `StreamOps.lshMaintainCdcStream`), each on a
  * `MemoryStream` behind one running query per pass. ER: an add batch,
  * one delete slice, then a re-add of that slice (the final corpus is
  * the whole sample), with the stores folded on the re-add. LSH: an add
  * batch and one delete slice (the final corpus is the sample minus the
  * slice), without a fold; a second re-add and fold per pass would not
  * fit the run's time budget. One op = one micro-batch, added only
  * after the previous one committed. Every pass starts from empty
  * stores; after each pass the standing clusters must equal the
  * one-shot clustering of the final corpus (the StreamOpsSpec parity
  * shape). */
final class Incremental extends Workload {
  val name = "incremental"
  import Incremental._

  private var erPlan: Seq[Seq[(Long, String)]] = Nil   // (key, op) per batch
  private var lshPlan: Seq[Seq[(Long, String)]] = Nil
  private var customers: Map[Long, (String, Int, String)] = Map.empty
  private var docs: Map[Long, String] = Map.empty
  private var lshDeleted: Set[Long] = Set.empty

  def generate(ctx: Ctx): String = {
    val spark = ctx.spark
    val allCust = Tables.customer(spark, ctx.dataDir)
      .select("c_custkey", "c_name", "c_nationkey", "c_mktsegment").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getInt(2), r.getString(3))).toMap
    val allDocs = Tables.documents(spark, ctx.dataDir).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val custKeys = sample(allCust.keys.toSeq)
    val docKeys = sample(allDocs.keys.toSeq)
    customers = custKeys.map(k => k -> allCust(k)).toMap
    docs = docKeys.map(k => k -> allDocs(k)).toMap
    erPlan = schedule(custKeys, ctx.seed, 1)
    lshPlan = schedule(docKeys, ctx.seed, 2).dropRight(1)   // no re-add
    lshDeleted = lshPlan.last.map(_._1).toSet
    def show(p: Seq[Seq[(Long, String)]]) =
      p.map(_.map { case (k, op) => s"$op:$k" }.mkString(" ")).mkString("\n")
    s"er\n${show(erPlan)}\nlsh\n${show(lshPlan)}\n"
  }

  def warmTouch(ctx: Ctx): Unit = ()   // generate() reads both tables

  def run(ctx: Ctx, warmPasses: Int): Unit = {
    val spark = ctx.spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    lazy val erWant = oneShotEr(customers.toSeq.sortBy(_._1)
      .map { case (k, (n, nat, seg)) => (k, n, nat, seg) }
      .toDF("c_custkey", "c_name", "c_nationkey", "c_mktsegment"))
    lazy val lshWant = oneShotLsh(docs.toSeq.filterNot(d => lshDeleted(d._1))
      .sortBy(_._1).toDF("doc_id", "text"))
    var lastStores: Seq[String] = Nil
    var standing = Seq.empty[Long]
    var files = Seq.empty[Int]
    val last = 1 + warmPasses
    ctx.passes(warmPasses) { p =>
      val base = s"${ctx.workDir}/incremental/pass-$p"
      // ---- entity resolution over customer ----
      val erSrc = MemoryStream[(Long, String, Int, String, String)]
      val (erWriter, erCur) = StreamOps.erMaintainCdcStream(
        erSrc.toDS().toDF("c_custkey", "c_name", "c_nationkey", "c_mktsegment", "op"),
        s"$base/er/idx", s"$base/er/edges", s"$base/er/tombs",
        compactEvery = compactEvery)
      val erOps = stream(ctx, p, "er", s"$base/er/ckpt", erWriter, compactEvery, erPlan.map { batch =>
        batch.map { case (k, op) =>
          val (n, nat, seg) = if (op == "add") customers(k) else ("", 0, "")
          (k, n, nat, seg, op)
        }
      })(rows => erSrc.addData(rows), r => 8 + r._2.length + 4 + r._4.length + r._5.length) {
        standing :+= erCur().count()
        files :+= storeFiles(s"$base/er")
      }
      ctx.check(erOps.last) {
        val got = multiMember(erCur())
        if (got == erWant) None
        else Some(s"er clusters differ from the one-shot: ${got.size} vs ${erWant.size} rows")
      }
      // ---- LSH near-duplicates over documents ----
      val lshSrc = MemoryStream[(Long, String, String)]
      val (lshWriter, lshCur) = StreamOps.lshMaintainCdcStream(
        lshSrc.toDS().toDF("doc_id", "text", "op"),
        s"$base/lsh/idx", s"$base/lsh/sh", s"$base/lsh/edges", s"$base/lsh/tombs",
        compactEvery = 0)
      val lshOps = stream(ctx, p, "lsh", s"$base/lsh/ckpt", lshWriter, 0, lshPlan.map { batch =>
        batch.map { case (k, op) => (k, if (op == "add") docs(k) else "", op) }
      })(rows => lshSrc.addData(rows), r => 8 + r._2.length + r._3.length) {
        standing :+= lshCur().count()
        files :+= storeFiles(s"$base/lsh")
      }
      ctx.check(lshOps.last) {
        val got = multiMember(lshCur())
        if (got == lshWant) None
        else Some(s"lsh clusters differ from the one-shot: ${got.size} vs ${lshWant.size} rows")
      }
      // what the maintained state holds while both streams' standing
      // tables are still referenced
      if (p == last) {
        ctx.heldMb = Some(ctx.settledStorageMb())
        java.lang.ref.Reference.reachabilityFence(erCur)
        java.lang.ref.Reference.reachabilityFence(lshCur)
      }
      // the stores the program wrote, minus the stream checkpoints
      lastStores = Seq("er", "lsh").flatMap(s =>
        Seq("idx", "edges", "tombs", "sh").map(d => s"$base/$s/$d"))
      if (p > 1) Dirs.delete(new java.io.File(s"${ctx.workDir}/incremental/pass-${p - 1}"))
    }
    val storeBytes = lastStores.map(d => Dirs.sizeOf(new java.io.File(d))._1).sum
    ctx.counters = Map("store_mb" -> storeBytes / 1e6,
      "standing_rows" -> standing, "store_files" -> files,
      "batches_per_pass" -> (erPlan.size + lshPlan.size),
      "compact_every" -> compactEvery)
  }

  /** Run one stream's batches as ops: one query for the pass, each
    * batch added, then processed to its commit. `traced` runs after
    * each op of a traced pass, outside the op. */
  private def stream[T](ctx: Ctx, pass: Int, name: String, ckpt: String,
      writer: org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row],
      folds: Int, batches: Seq[Seq[T]])(add: Seq[T] => Unit, bytes: T => Int)(traced: => Unit): Seq[OpRec] = {
    val q = writer.trigger(Trigger.ProcessingTime(0L))
      .option("checkpointLocation", ckpt).start()
    try batches.zipWithIndex.map { case (rows, b) =>
      val rec = ctx.op(pass, s"$name.batch$b", "streaming") { opId =>
        ctx.streamSpans.foreach(_.own(q.runId, b.toLong, opId))
        add(rows)
        q.processAllAvailable()
      }
      rec.extra = Map("cdc_bytes" -> rows.map(bytes).sum,
        "compaction" -> (folds > 0 && b > 0 && b % folds == 0))
      if (Trace.on) traced
      rec
    } finally q.stop()
  }
}

object Incremental {
  /** Share of each table in the corpus. */
  val corpusShare = 0.1
  /** Add batches before the delete slice (one micro-batch costs about
    * the same at any size of this corpus: the fixed per-job cost). */
  val addBatches = 1
  /** The ER stream folds on batch id addBatches + 1: the re-add, after
    * the delete. */
  val compactEvery: Int = addBatches + 1
  /** Share of the corpus in the delete (and re-add) slice. */
  val deleteShare = 0.1

  /** Every (1 / corpusShare)-th key in key order: the corpus is the
    * same for every seed; the seed orders the schedule over it. */
  def sample(keys: Seq[Long]): Seq[Long] = {
    val stride = math.round(1 / corpusShare).toInt
    keys.sorted.zipWithIndex.collect { case (k, i) if i % stride == 0 => k }
  }

  /** A seeded CDC schedule over `keys`: `addBatches` add batches of a
    * seeded permutation, then a delete of a seeded slice, then the
    * re-add of that slice. Batches list their keys sorted. */
  def schedule(keys: Seq[Long], seed: Long, stream: Long): Seq[Seq[(Long, String)]] = {
    val perm = Gen.shuffle(keys.sorted, Gen.rng(seed, stream))
    val per = math.ceil(perm.size.toDouble / addBatches).toInt
    val adds = perm.grouped(per).toSeq.map(_.sorted.map(k => (k, "add")))
    val slice = Gen.shuffle(keys.sorted, Gen.rng(seed, stream + 10))
      .take(math.max(1, (keys.size * deleteShare).toInt)).sorted
    adds :+ slice.map(k => (k, "delete")) :+ slice.map(k => (k, "add"))
  }

  def storeFiles(dir: String): Int = Dirs.sizeOf(new java.io.File(dir))._2

  /** (id, label) of the members of multi-member components, sorted. */
  def multiMember(comps: DataFrame): Seq[(Long, Long)] = {
    val c = comps.select(col("id"), col("label"))
    val sizes = c.groupBy("label").agg(count(lit(1)).as("n"))
    c.join(sizes, "label").filter(col("n") > 1).select("id", "label")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
  }

  /** One-shot ER over `records`: deletion keys, edges, components. */
  def oneShotEr(records: DataFrame): Seq[(Long, Long)] = {
    val keys = Linkage.deletionKeyTable(records).localCheckpoint(eager = true)
    val out = multiMember(Dedup.connectedComponents(Linkage.erAppendEdges(keys, keys)))
    keys.unpersist()
    out
  }

  /** One-shot LSH clustering of `docs`, with the stream's signature
    * family and parameters. */
  def oneShotLsh(docs: DataFrame): Seq[(Long, Long)] = {
    val sh = Dedup.shingleRowsFor(docs, 3).localCheckpoint(eager = true)
    val sigs = sh.select(col("doc_id"), Dedup.minhashFromShingles(col("sh"), 32).as("sig"))
    val out = multiMember(Dedup.connectedComponents(
      Dedup.verifyPairs(sh, Dedup.lshCandidatePairs(sigs, bands = 8,
        rowsPerBand = 4, maxBucket = 256), 0.7)))
    sh.unpersist()
    out
  }
}
