package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.execution.ExplainMode

/** Dumps `explain("formatted")` for a list of queries — the per-round
  * optimization evidence trail. Two forms, one session and one loop:
  *
  *   sbt "runMain graft.PlanDirDump <outDir> <suffix> <q1,q2,...>"
  *     one file per query (plans/r13/<query>_before.txt / _after.txt);
  *   SPARK_GRAFT_CPUS=4 sbt "runMain graft.PlanDirDump PLANS.md"
  *     the headline plans below into one markdown file.
  *
  * e.g. `runMain graft.PlanDirDump plans/r13 after j7_star_join,a2_distinct_agg`.
  * Plan shapes were SF-independent through r13 (dumps at sf0.001); the
  * r14 Spread gate made them deliberately SF-DEPENDENT (it only plans
  * its exchange when the scan is narrow AND carries enough bytes), so
  * spread-class evidence must be dumped with SPARK_GRAFT_SF_DIR at the
  * grain where the gate fires and SPARK_GRAFT_CPUS at the bench core
  * count (the gate compares against defaultParallelism). The gate has
  * no override: a gate-off "before" plan is dumped from the parent
  * commit's binary.
  */
object PlanDirDump {
  /** Headline queries whose plan shapes PLANS.md pins for review:
    * pushdown, pruning, join strategies, codegen stages. */
  private val headline = Seq(
    "a1_agg_q1", "j1_broadcast_join", "j2_shuffle_join", "j7_star_join",
    "j8_asof_join", "j9_range_join", "j10_interval_join", "w1_window_rank",
    "g1_tumbling_window", "l1d_minhash_lsh", "l2_cosine_topk",
    "l11_tfidf_topk", "s6_partitioned_write", "s7_zorder_write",
    // pre-join fact agg, decorrelated scalar subqueries, the
    // single-exchange islands window, full-outer merge, PMI joins,
    // digest-window representative selection
    "j13_q18_shape", "j14_scalar_subquery", "w5_gaps_islands",
    "t5_merge_upsert", "l16_pmi_bigrams", "l19_cluster_representatives",
    // Expand-free multi-distinct, basket-local pair generation, pruned
    // skyline, distributed equi-depth rank, zero-exchange zero-sort
    // bucketed join, one-pass char entropy
    "a2_distinct_agg", "a19_association_rules", "a25_pareto_frontier",
    "a26_equidepth_histogram", "s12_bucketed_join", "l29_char_entropy",
    // the six-table join chains: a silent join-order regression (dims
    // stop broadcasting, an extra fact-fact exchange) shows in review
    "j12_q5_shape", "j24_q8_market_share", "j16_q21_shape",
    "a10_percentile_exact",
    "j29_q2_min_supplier", "l36_bigram_lm_score",
    "l17_ngram_dupfrac", "l34_cross_source_overlap",
    // the size-gated range frame, the DSIR zero-exchange score pass, the
    // IVF-pruned SemDeDup assignment
    "w3b_range_frame", "l38_dsir_select", "l39b_semdedup_ann",
    "l26_pagerank", "l40_exact_substring_spans",
    // one-kernel-pass winnowing (scan + project, zero exchanges)
    "l20_winnowing")

  def main(args: Array[String]): Unit = {
    // Left(markdown file) or Right((outDir, suffix))
    val (names, target): (Seq[String], Either[Path, (Path, String)]) = args match {
      case Array(md) => (headline, Left(Paths.get(md)))
      case Array(outDir, suffix, qs) =>
        (qs.split(',').map(_.trim).filter(_.nonEmpty).toSeq,
          Right((Paths.get(outDir), suffix)))
      case _ => sys.error(
        "usage: PlanDirDump <outDir> <suffix> <q1,q2,...> | PlanDirDump <file.md>")
    }
    val spark = Engine.localSession()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    // r13 ADVICE: a silently-exit-0 failure leaves an evidence run with
    // missing plan files — track and fail the process instead
    var failed = 0
    val plans = names.flatMap { name =>
      try Some(name -> SparkEntry.queries(name)(spark, dir).queryExecution
        .explainString(ExplainMode.fromString("formatted")))
      catch {
        case e: Exception =>
          failed += 1
          System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
          None
      }
    }
    target match {
      case Left(md) =>
        val sb = new StringBuilder
        sb.append("# PLANS — formatted physical plans of headline queries\n\n")
        sb.append("Generated by\n`SPARK_GRAFT_CPUS=4 sbt \"runMain graft.PlanDirDump " +
          s"$md\"`\nat sf0.001 (plan shapes are SF-independent below the Spread\n")
        sb.append("gate). What to look for: `PushedFilters` on scans, pruned\n")
        sb.append("`ReadSchema`, BroadcastHashJoin on dimensions, single hash\n")
        sb.append("exchanges on fact keys, `(n)` codegen stage ids.\n")
        for ((name, plan) <- plans) sb.append(s"\n## $name\n\n```\n$plan```\n")
        Files.writeString(md, sb.toString)
        println(s"[plandump] wrote $md (${plans.size} plans)")
      case Right((outDir, suffix)) =>
        Files.createDirectories(outDir)
        for ((name, plan) <- plans) {
          Files.writeString(outDir.resolve(s"${name}_$suffix.txt"), plan)
          println(s"[plandump] wrote ${name}_$suffix.txt")
        }
    }
    spark.stop()
    if (failed > 0) {
      System.err.println(s"[plandump] $failed quer${if (failed == 1) "y" else "ies"} failed to dump")
      System.exit(1)
    }
  }
}
