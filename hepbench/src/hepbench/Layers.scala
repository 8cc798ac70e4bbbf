package hepbench

/** The per-layer metrics of a traced run, named after the program's
  * modules. Every traced run reports all of them; a layer that the
  * workload does not reach reads 0. Counts and times are per operation:
  * one submission directory, or one pipeline run. */
object Layers {
  val passes: Seq[String] = Seq("compile.row_rules", "engine.uniqueness",
    "engine.referential", "engine.text_invariant", "engine.verdicts", "engine.stats")

  val queries: Seq[String] = graft.SparkEntry.queries.keys.toSeq.sorted

  val names: Seq[String] = Seq(
    "spark.jobs", "spark.stages", "spark.tasks", "spark.task_run_s",
    "spark.task_cpu_s", "spark.task_gc_s", "spark.shuffle_write_mb",
    "spark.spill_mb", "driver.plan_s", "driver.self_s", "ingest.jobs_s",
    "hep.orchestration_jobs_s", "cli.render_s",
    "ingest.parse_mb_per_s", "ingest.translate_s", "ingest.files",
    "ingest.bytes", "hep.data_rules_s", "hep.submission_rules_s", "hep.rows",
    "hep.messages") ++
    passes.map(_ + "_s") ++
    passes.flatMap(p => Seq(s"$p.shuffle_write_mb", s"$p.spill_mb",
      s"$p.peak_mem_mb", s"$p.records_out")) ++
    queries.map(q => s"query.${q}_s") ++
    Seq("query.suite_s", "trace.overhead_ms", "trace.ops", "items_per_s",
      "heap_after_gc_mb")

  def unit(name: String): String =
    if (name.endsWith("_mb_per_s")) "MB/s"
    else if (name.endsWith("_ms")) "ms"
    else if (name.endsWith("_per_s")) "1/s"
    else if (name.endsWith("_s")) "s"
    else if (name.endsWith("_mb")) "MB"
    else if (name == "ingest.bytes") "bytes"
    else "count"
}
