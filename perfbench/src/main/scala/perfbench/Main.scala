package perfbench

/** Entry point of one benchmark run; see README.md. Writes the run's result
  * as one JSON object to `--out`. */
object Main {
  val LayerMetrics: Seq[String] = Seq(
    "enumerate.list_s", "enumerate.entries", "enumerate.jobs",
    "plan.plan_s", "plan.diff_s", "plan.deletes_s", "plan.dupcheck_s", "plan.jobs", "plan.tasks",
    "plan.pack_s", "plan.bucket_skew", "plan.bucket_overflow",
    "exec.setup_ms", "exec.run_ms", "exec.cleanup_ms", "exec.jobs", "exec.task_skew",
    "exec.copy_one_mb_per_s",
    "copy.warmup_s", "copy.cold_single_s", "copy.cold_default_s", "copy.cold_mb_per_s",
    "resync.prune_s", "resync.delta_s",
    "queries.floor_s", "queries.first_pass_s",
    "queries.relational.pass_s", "queries.relational.jobs", "queries.relational.tasks",
    "queries.relational.executor_s", "queries.relational.shuffle_mb",
    "queries.dedup.pass_s", "queries.dedup.jobs", "queries.dedup.tasks",
    "queries.dedup.executor_s", "queries.dedup.shuffle_mb", "queries.dedup.checkpoint_mb",
    "operators.lsh_s", "operators.cc_s", "operators.bpe_s",
    "setup.session_s", "setup.warmup_s", "runtime.gc_s")

  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val h = new Harness(o)
    val extra =
      if (o.workload == "query-mix") graft.ShuffleSizing.configs(o.data.toString, h.cpus).toSeq
      else Nil
    h.coldSetUp(extra)
    o.workload match {
      case "copy" => CopyWorkloads.run(h)
      case "query-mix" => QueryMix.run(h)
      case w => throw new IllegalArgumentException(s"unknown workload '$w'")
    }
    h.writeResult(LayerMetrics)
    h.spark.stop()
  }
}
