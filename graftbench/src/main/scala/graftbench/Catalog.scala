package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{SparkEntry, Tables}

/** `catalog`: one op = one `SparkEntry.queries` entry, timed until its
  * full output is written to the `noop` sink (no column or aggregate
  * can be pruned away, as it can under `count()`). Pass 1 is cold,
  * later passes are warm, each in its own seeded order. The fingerprint
  * check runs on pass 1, where caches are first built, and on the last
  * pass, where a stale or wrong cache shows; always outside the timed
  * region. */
final class Catalog extends Workload {
  val name = "catalog"

  private var chosen: Vector[(String, String)] = Vector.empty
  private var expected: Map[String, String] = Map.empty

  def generate(ctx: Ctx): String = {
    val rec = Json.parseFile(s"${ctx.benchDir}/data/catalog.json")
      .asInstanceOf[Map[String, Any]]
    val qs = rec("queries").asInstanceOf[Map[String, Map[String, Any]]]
    expected = qs.map { case (n, m) => n -> m("fingerprint").toString }
    chosen = Gen.catalogSlice(Catalog.core, Catalog.light, ctx.seed)
      .map(n => n -> qs(n)("layer").toString)
    chosen.map { case (n, l) => s"$n $l" }.mkString("\n") + "\n"
  }

  def warmTouch(ctx: Ctx): Unit =
    Tables.names.foreach(t => Tables(ctx.spark, ctx.dataDir, t).count())

  def run(ctx: Ctx, warmPasses: Int): Unit = {
    val fns = SparkEntry.queries
    val last = 1 + warmPasses
    ctx.passes(warmPasses) { p =>
      Gen.passOrder(chosen, ctx.seed, p).foreach { case (q, layer) =>
        val fn = fns.get(q)
        val rec = ctx.op(p, q, layer) { _ =>
          val f = fn.getOrElse(throw new NoSuchElementException(
            s"$q is not in SparkEntry.queries"))
          Catalog.writeNoop(f(ctx.spark, ctx.dataDir))
        }
        if (p == 1 || p == last) ctx.check(rec) {
          val got = Fingerprint.of(fn.get(ctx.spark, ctx.dataDir))
          val want = expected(q)
          if (got == want) None else Some(s"fingerprint $got != recorded $want")
        }
      }
    }
    ctx.counters = Map("slice" -> chosen.map(_._1))
  }
}

object Catalog {
  /** The standing core of the slice: three graft.rel and four graft.ext
    * queries at the catalog's typical cost (0.1-0.4 s warm), three of
    * which (q299, q55, q206) leave indexes or persisted frames behind,
    * so `cached_mb` reads the Memo layer; and the three graft.exec
    * demos, the instructions map→reduce (Pipeline), its self-verified
    * variant (SelfVerify) and the grouped reduce (GroupedReduce), all
    * over `StubLlm`. */
  val core: Seq[String] = Seq(
    "q293_skyline", "q129_tpch_q17", "q299_session_sweep",
    "q49_doc_chunks", "q302_pairwise_means", "q55_ivf_probe", "q206_heaps_fit",
    "q70_mr_pipeline", "q71_self_verify", "q72_grouped_reduce")

  /** The queries one of which the seed adds to the core: each under
    * 0.2 s warm and 0.6 s cold at local[4], leaving nothing cached, so
    * which one the seed draws moves a pass by a few percent at most. */
  val light: Seq[String] = Seq(
    "q118_length_batches", "q126_tpch_q6", "q146_weighted_sample",
    "q148_epoch_shuffle", "q154_lsh_fixed", "q173_resize_stub",
    "q23_conditional_agg", "q281_dp_counts", "q282_hill_tail", "q286_wilson",
    "q28_array_ops", "q307_l_diversity", "q47_hash_sample", "q50_cosine_topk",
    "q52_lsh_index", "q60_media_meta", "q61_decode_features",
    "q62_frame_sample", "q65_pivot", "q66_unpivot", "q67_posexplode",
    "q74_window_dist", "q76_train_test", "q83_ntile_buckets",
    "q89_length_histogram", "q90_distinct_twostage", "q96_corpus_mix")

  def writeNoop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Recording: every query the slice can hold, run twice and
    * fingerprinted after each run. Two differing fingerprints mark a
    * nondeterministic output. */
  def record(spark: SparkSession, dataDir: String): Map[String, Any] =
    (core ++ light).sorted.map { n =>
      val fn = SparkEntry.queries(n)
      val r = try {
        writeNoop(fn(spark, dataDir))
        val fp1 = Fingerprint.of(fn(spark, dataDir))
        val fp2 = Fingerprint.of(fn(spark, dataDir))
        Map("fingerprint" -> fp1, "fingerprint2" -> fp2, "stable" -> (fp1 == fp2))
      } catch { case scala.util.control.NonFatal(e) =>
        Map("error" -> e.toString.take(300))
      }
      System.err.println(s"[record] $n $r")
      n -> r
    }.toMap
}
