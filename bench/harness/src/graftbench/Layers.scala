package graftbench

import scala.collection.mutable

import graft.SparkEntry

/** Per-layer metrics of the cold pass, from the spans the harness opened
  * around its calls into each layer. Every metric is present for every
  * workload; a layer a workload never enters reads 0. */
object Layers {
  val Domains = Seq("etl", "timeseries", "corpus", "dedup", "vector", "graph", "stream")

  def metrics(t: Tracer, cores: Int, args: Map[String, String],
              etl: Option[EtlDaily]): mutable.LinkedHashMap[String, Double] = {
    val cold = t.spans.find(_.name == "pass:cold").get
    def under(s: Span): Iterator[Span] =
      t.spans.iterator.filter(_.parent == s.id).flatMap(c => Iterator(c) ++ under(c))
    val inCold = under(cold).toSeq
    def named(p: String) = inCold.filter(_.name.startsWith(p))
    def secs(p: String) = named(p).map(_.seconds).sum
    def jobs(ss: Seq[Span]) = ss.map(t.total(_).jobs).sum.toDouble

    val c = t.total(cold)
    val m = mutable.LinkedHashMap[String, Double](
      "spark.jobs" -> c.jobs.toDouble,
      "spark.stages" -> c.stages.toDouble,
      "spark.tasks" -> c.tasks.toDouble,
      "spark.sec_per_job" -> (if (c.jobs > 0) cold.seconds / c.jobs else 0.0),
      "spark.task_busy_ratio" -> c.runMs / 1e3 / (cold.seconds * cores),
      "spark.shuffle_write_bytes" -> c.shuffleWrite.toDouble,
      "spark.input_bytes" -> c.input.toDouble,
      "spark.spill_bytes" -> c.spill.toDouble,
      "spark.output_bytes" -> c.output.toDouble,
      "spark.broadcast_bytes" -> c.broadcast.toDouble)

    m("sources.fetch_s") = secs("sources.fetch")
    m("etl.plan_s") = secs("etl.plan")
    m("sinks.artifacts_s") = secs("sinks.artifacts")
    m("sinks.push_s") = secs("sinks.push:")
    m("sinks.push_rows") = etl.fold(0.0)(_.coldPushRows.toDouble)
    m("etl.input_read_ratio") = etl.fold(0.0)(e => e.coldBytesRead.toDouble / e.inputBytes)

    val plans = named("registry.plan")
    m("registry.plan_s") = plans.map(_.seconds).sum
    m("registry.plan_jobs") = jobs(plans)
    m("registry.exec_s") = secs("registry.exec")
    m("registry.exec_jobs") = jobs(named("registry.exec"))

    // memo.build_s: plan time of the first consumer of a memo family in the
    // pass; memo.hit_s: plan time of every later consumer.
    val ops = inCold.filter(_.name.startsWith("op:"))
    val planOf = plans.map(p => p.parent -> p.seconds).toMap
    val seen = mutable.Set.empty[String]
    var build, hit = 0.0
    ops.foreach { op =>
      val q = op.name.stripPrefix("op:")
      val fams = SparkEntry.memoFamilies.collect { case (f, users, _) if users(q) => f }
      val p = planOf.getOrElse(op.id, 0.0)
      if (fams.exists(f => !seen(f))) build += p
      else if (fams.nonEmpty) hit += p
      seen ++= fams
    }
    m("memo.build_s") = build
    m("memo.hit_s") = hit

    val domainOf = args.get("domains").toSeq.flatMap(_.split(","))
      .map(_.split(":")).collect { case Array(q, d) => q -> d }.toMap
    Domains.foreach { d =>
      val ds = ops.filter(o => domainOf.get(o.name.stripPrefix("op:")).contains(d))
      m(s"$d.s") = ds.map(_.seconds).sum
      m(s"$d.jobs") = jobs(ds)
    }
    m("catalog.table_writes") = c.catalogWrites.toDouble
    m("stream.micro_batches") = c.microBatches.toDouble
    m("stream.batch_s") = c.batchMs / 1e3
    m("trace.cold_s") = cold.seconds
    m
  }

  /** A span's own counts, as written to spans.jsonl. */
  def countsJson(c: Counts): mutable.LinkedHashMap[String, Any] =
    mutable.LinkedHashMap("jobs" -> c.jobs, "stages" -> c.stages,
      "tasks" -> c.tasks, "run_ms" -> c.runMs, "shuffle_write" -> c.shuffleWrite,
      "input" -> c.input, "spill" -> c.spill, "output" -> c.output,
      "broadcast" -> c.broadcast, "catalog_writes" -> c.catalogWrites,
      "micro_batches" -> c.microBatches, "batch_ms" -> c.batchMs)

  /** Self time of the whole run by layer: a span's layer is its name up to
    * the first ':' (`op:anomaly_zscore` -> `op`, `sinks.push:qa` ->
    * `sinks.push`). */
  def selfByLayer(t: Tracer): mutable.LinkedHashMap[String, Double] = {
    val out = mutable.LinkedHashMap.empty[String, Double]
    t.spans.foreach { s =>
      val layer = s.name.takeWhile(_ != ':')
      out(layer) = out.getOrElse(layer, 0.0) + t.selfSeconds(s)
    }
    out
  }
}
