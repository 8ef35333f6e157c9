package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.Tables
import graft.exec.{CachedStage, Demo, InstructionsPipeline, PipeDoc}
import graft.llm.{ChatMsg, LlmClient, StubLlm}
import graft.model.{Configs, LlmParams}
import graft.ops.DocOps

/** Counts every call into the wrapped client. Tasks run in the
  * driver's JVM (local mode), so the counters are plain statics; the
  * caller path and op come from the task's local properties. */
final class CountingLlm(inner: LlmClient) extends LlmClient {
  override def complete(msgs: Seq[ChatMsg], params: LlmParams): String = {
    val t0 = Trace.now()
    val out = inner.complete(msgs, params)
    val t1 = Trace.now()
    val c = LlmCounts.of(LlmCounts.path())
    c(0).incrementAndGet()
    c(2).addAndGet(t1 - t0)
    c(3).addAndGet(msgs.map(_.content.length.toLong).sum)
    if (out == null || out.isEmpty) c(4).incrementAndGet()
    if (Trace.on) Trace.add(0L, "llm.call", LlmCounts.op(), t0, t1)
    out
  }

  override def completeBatch(batch: Seq[Seq[ChatMsg]], params: LlmParams): Seq[String] = {
    LlmCounts.of(LlmCounts.path())(1).incrementAndGet()
    batch.map(complete(_, params))
  }
}

object LlmCounts {
  /** Per caller path: calls, batches, busy ns, prompt chars, empty responses. */
  private val counts = new ConcurrentHashMap[String, Array[AtomicLong]]()
  def of(path: String): Array[AtomicLong] =
    counts.computeIfAbsent(path, _ => Array.fill(5)(new AtomicLong(0)))
  private def prop(k: String): Option[String] =
    Option(TaskContext.get()).flatMap(t => Option(t.getLocalProperty(k)))
  def path(): String = prop(Trace.PathProp).getOrElse("driver")
  def op(): Long = prop(Trace.OpProp).map(_.toLong).getOrElse(0L)
  def snapshot(): Map[String, Seq[Long]] =
    counts.asScala.map { case (k, v) => k -> v.toSeq.map(_.get()) }.toMap
}

/** `llm_pipeline`: the paper's instructions map→reduce
  * (`Demo.pipelineJson`: 4 map + 2 reduce instructions) over seeded
  * document batches drawn from `documents`, a fixed share of them
  * repeating another document's content under a new id. One op = one
  * batch through `InstructionsPipeline.runWithReport` and through
  * `CachedStage.runStage` (map, then reduce) against the run's own
  * response cache, which pass 1 finds empty. The LLM is `StubLlm`
  * behind [[CountingLlm]]. Outputs are checked byte-exact (SHA-256)
  * against the recorded outputs of the source documents. */
final class LlmPipeline extends Workload {
  val name = "llm_pipeline"
  import LlmPipeline._

  /** Per batch: (new id, source doc id) pairs. */
  private var batches: Seq[Seq[(Long, Long)]] = Nil
  private var rows: Map[Long, Row] = Map.empty
  private var schema: StructType = _

  def generate(ctx: Ctx): String = {
    val t = Tables.documents(ctx.spark, ctx.dataDir)
    schema = t.schema
    rows = t.collect().map(r => r.getLong(0) -> r).toMap
    batches = plan(rows.keys.toSeq, ctx.seed)
    batches.map(_.map { case (id, src) => s"$id<-$src" }.mkString(" ")).mkString("\n") + "\n"
  }

  def warmTouch(ctx: Ctx): Unit = ()   // generate() reads the table

  def run(ctx: Ctx, warmPasses: Int): Unit = {
    val spark = ctx.spark
    val conf = Configs.parse(Demo.pipelineJson)
    val Seq(mapStage, reduceStage) = conf.pipe
    val llm = new CountingLlm(StubLlm)
    val cache = s"${ctx.workDir}/llm-cache"
    val want = Json.parseFile(s"${ctx.benchDir}/data/llm_pipeline.json")
      .asInstanceOf[Map[String, Any]]("docs").asInstanceOf[Map[String, Seq[Any]]]
    val sc = spark.sparkContext
    var cacheBytes = 0L
    ctx.passes(warmPasses) { p =>
      batches.zipWithIndex.foreach { case (batch, b) =>
        val df = spark.createDataFrame(
          batch.map { case (id, src) => Row.fromSeq(id +: rows(src).toSeq.tail) }.asJava,
          schema)
        var piped: Map[Long, String] = Map.empty
        var cached: Map[Long, String] = Map.empty
        val before = LlmCounts.snapshot()
        val rec = ctx.op(p, s"batch$b", "exec") { op =>
          sc.setLocalProperty(Trace.PathProp, "pipeline")
          piped = Trace.span("exec.pipeline", op) { _ =>
            val out = new InstructionsPipeline(conf, llm)
              .runWithReport(InstructionsPipeline.toDocs(df, "doc_id"))
            pipelineDigests(out)
          }
          sc.setLocalProperty(Trace.PathProp, "cached")
          val docs = InstructionsPipeline.toDocs(df, "doc_id")
          val mapped = Trace.span("exec.cached_stage", op) { _ =>
            CachedStage.runStage(docs, mapStage, conf.llm, llm, cache)
          }
          cached = Trace.span("exec.cached_stage", op) { _ =>
            cachedDigests(CachedStage.runStage(mapped, reduceStage, conf.llm, llm, cache))
          }
          sc.setLocalProperty(Trace.PathProp, null)
        }
        val after = LlmCounts.snapshot()
        def delta(path: String, i: Int): Long =
          after.get(path).map(_(i)).getOrElse(0L) - before.get(path).map(_(i)).getOrElse(0L)
        val nowBytes = Dirs.sizeOf(new java.io.File(cache))._1
        rec.extra = Map("docs" -> batch.size,
          "requests_cached" -> batch.size * (mapStage.resolved.size + reduceStage.resolved.size),
          "calls_pipeline" -> delta("pipeline", 0), "calls_cached" -> delta("cached", 0),
          "batches" -> (delta("pipeline", 1) + delta("cached", 1)),
          "busy_ns" -> (delta("pipeline", 2) + delta("cached", 2)),
          "prompt_chars" -> (delta("pipeline", 3) + delta("cached", 3)),
          "empty" -> (delta("pipeline", 4) + delta("cached", 4)),
          "cache_write_b" -> (nowBytes - cacheBytes))
        cacheBytes = nowBytes
        ctx.check(rec) {
          def bad(path: Int, got: Map[Long, String]) = batch.filter { case (id, src) =>
            !want.get(src.toString).exists(w => accepts(w(path), got.getOrElse(id, "missing")))
          }
          val (p1, p2) = (bad(0, piped), bad(1, cached))
          if (p1.isEmpty && p2.isEmpty) None
          else Some(s"outputs differ from the recorded ones: ${p1.size} of ${batch.size} " +
            s"on the pipeline path, ${p2.size} on the cached path " +
            s"(first: doc ${(p1 ++ p2).head._1} from ${(p1 ++ p2).head._2})")
        }
      }
    }
    ctx.counters = Map("store_mb" -> Dirs.sizeOf(new java.io.File(cache))._1 / 1e6,
      "docs_per_batch" -> batchDocs, "batches_per_pass" -> batches.size,
      "repeat_share" -> repeatShare)
  }
}

object LlmPipeline {
  val batchCount = 4
  val batchDocs = 100
  /** Share of each batch that repeats an earlier document's content. */
  val repeatShare = 0.3

  /** Seeded batches of (new id, source doc id): distinct source docs
    * drawn from the table, plus in each batch `repeatShare` of repeats
    * of sources drawn so far (this batch's or earlier ones). */
  def plan(ids: Seq[Long], seed: Long): Seq[Seq[(Long, Long)]] = {
    val r = Gen.rng(seed, 3)
    val fresh = math.round(batchDocs * (1 - repeatShare)).toInt
    val pool = Gen.shuffle(ids.sorted, r).take(batchCount * fresh)
    var seen = Vector.empty[Long]
    var next = 1L
    (0 until batchCount).map { b =>
      val own = pool.slice(b * fresh, (b + 1) * fresh)
      seen ++= own
      val reps = (0 until batchDocs - fresh).map(_ => seen(r.nextInt(seen.size)))
      Gen.shuffle(own ++ reps, r).map { src => val id = next; next += 1; (id, src) }
    }
  }

  private def digest(s: String): String =
    Main.sha256(s).take(16)

  private def canon(m: scala.collection.Map[String, String]): String =
    if (m == null) "null"
    else m.toSeq.sortBy(_._1).map { case (k, v) => s"$k\u0001$v" }.mkString("\u0002")

  /** id -> digest of (map results, reduce results, rendered report). */
  def pipelineDigests(out: DataFrame): Map[Long, String] =
    out.select(col("id"), col("results.map_results"), col("results.reduce_results"),
        col("results.result")).collect().map { r =>
      r.getLong(0) -> digest(Seq(canon(r.getMap[String, String](1)),
        canon(r.getMap[String, String](2)), String.valueOf(r.getString(3))).mkString("\u0003"))
    }.toMap

  /** id -> digest of the reduce stage's field map. */
  def cachedDigests(out: org.apache.spark.sql.Dataset[PipeDoc]): Map[Long, String] =
    out.collect().map(d => d.id -> digest(canon(d.fields))).toMap

  /** A recorded expectation is one digest, or the list of digests
    * every field order allows (the cached path, see [[record]]). */
  def accepts(want: Any, got: String): Boolean = want match {
    case one: String => one == got
    case any: Seq[_] => any.contains(got)
    case _ => false
  }

  /** Recording: every document through `runWithReport`, whose output
    * is recorded byte-exact (digest). The cached path's reduce stage
    * builds its prompts from a field map pivoted out of a shuffle
    * (`map_from_entries(collect_list(...))` in CachedStage), and
    * `DocOps.buildUserMsg` renders fields in map order, so its reduce
    * prompts, and the stub's answers, depend on the order the shuffle
    * delivered the map results in. For that path the record lists the
    * digest of every reduce output a field order can produce, each
    * computed with the stub from the recorded map results. */
  def record(spark: SparkSession, dir: String, work: String): Map[String, Any] = {
    val conf = Configs.parse(Demo.pipelineJson)
    val Seq(mapStage, reduceStage) = conf.pipe
    val docs = InstructionsPipeline.toDocs(Tables.documents(spark, dir), "doc_id")
    val out = new InstructionsPipeline(conf, StubLlm).runWithReport(docs)
    val piped = pipelineDigests(out)
    val mapped = out.select(col("id"), col("results.map_results")).collect()
      .map(r => r.getLong(0) -> r.getMap[String, String](1).toMap).toMap
    val allowed = mapped.map { case (id, fields) =>
      val perIns = reduceStage.resolved.map { ins =>
        val proj = DocOps.scopeProject(fields, ins.scope).toSeq
        ins.name -> proj.permutations.map { p =>
          StubLlm.complete(DocOps.initChatml(DocOps.buildSysMsg(ins),
            DocOps.buildUserMsg(scala.collection.immutable.ListMap(p: _*))), conf.llm)
        }.toSeq.distinct
      }
      val combos = perIns.foldLeft(Seq(Map.empty[String, String])) { case (acc, (n, rs)) =>
        for (m <- acc; r <- rs) yield m + (n -> r)
      }
      id -> combos.map(c => digest(canon(c))).distinct.sorted
    }
    // the cached path itself, once, must land inside the allowed sets
    val cache = s"$work/record-cache"
    val cached = cachedDigests(CachedStage.runStage(
      CachedStage.runStage(docs, mapStage, conf.llm, StubLlm, cache),
      reduceStage, conf.llm, StubLlm, cache))
    val outside = cached.count { case (id, d) => !allowed(id).contains(d) }
    require(outside == 0, s"$outside cached-path outputs match no field order")
    Map("digest" -> ("first 16 hex of SHA-256 over the output fields sorted by name; " +
        "per doc: [runWithReport digest, CachedStage map->reduce digests allowed by " +
        "the reduce prompts' field order]"),
      "docs" -> piped.keys.toSeq.sorted.map(id =>
        id.toString -> Seq(piped(id), allowed(id))).toMap)
  }
}
