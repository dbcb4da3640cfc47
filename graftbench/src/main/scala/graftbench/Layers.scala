package graftbench

/** Per-layer figures of a traced run. Each figure is the median, over
  * the traced operations that opened the layer's span, of that span's
  * per-operation total; a layer the workload never opens reads 0. */
object Layers {

  private final case class OpLayer(wallS: Double, w: SparkWork)

  def metrics(trace: Trace, wl: Workload, cores: Int): Seq[(String, Double, String)] = {
    org.apache.spark.graftbench.ListenerBusDrain(wl.spark.sparkContext)
    val spans = trace.spans
    val work = trace.workBySpan
    // the traced-vs-runBatch equivalence check is not a workload op
    val checkOps = spans.filter(_.name.startsWith("check.")).map(_.op).toSet
    val byOp = spans.filterNot(s => checkOps(s.op)).groupBy(_.op)
    val perOp: Map[Int, Map[String, OpLayer]] = byOp.map { case (op, ss) =>
      op -> ss.groupBy(_.name).map { case (name, xs) =>
        val w = new SparkWork
        xs.flatMap(s => work.get(s.id)).foreach(w.add)
        name -> OpLayer(xs.map(_.wallS).sum, w)
      }
    }
    def med(layer: String)(f: (Int, OpLayer) => Option[Double]): Double = {
      val xs = perOp.toSeq.flatMap { case (op, ls) => ls.get(layer).flatMap(l => f(op, l)) }
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    def m(layer: String)(f: OpLayer => Double): Double = med(layer)((_, l) => Some(f(l)))
    def idle(l: OpLayer) = math.max(0.0, l.wallS * cores - l.w.taskRunS)

    val self = Trace.selfTimes(spans)
    def isOp(name: String) = name == "load" || name.startsWith("read.")
    val opSelf = spans.filter(s => isOp(s.name) && !checkOps(s.op)).map(s => self(s.id))
    val stage = "ingest.scan_stage"
    val commit = "warehouse.commit"
    Seq(
      ("ingest.discover.wall_s", m("ingest.discover")(_.wallS), "s"),
      ("ingest.validate.wall_s", m("ingest.validate")(_.wallS), "s"),
      ("ingest.validate.jobs", m("ingest.validate")(_.w.jobs.toDouble), "count"),
      ("ingest.validate.tasks", m("ingest.validate")(_.w.tasks.toDouble), "count"),
      ("ingest.validate.quarantine_ratio",
        wl.filesQuarantined.toDouble / math.max(1L, wl.filesSeen), "ratio"),
      (s"$stage.wall_s", m(stage)(_.wallS), "s"),
      (s"$stage.tasks", m(stage)(_.w.tasks.toDouble), "count"),
      (s"$stage.task_cpu_s", m(stage)(_.w.taskCpuS), "s"),
      (s"$stage.gc_s", m(stage)(_.w.gcS), "s"),
      (s"$stage.idle_core_s", m(stage)(idle), "s"),
      (s"$stage.input_bytes", m(stage)(_.w.inputBytes.toDouble), "B"),
      (s"$stage.output_bytes", m(stage)(_.w.outputBytes.toDouble), "B"),
      (s"$stage.rows_per_s", med(stage)((op, l) =>
        wl.stagedRows.get(op).map(_ / math.max(1e-9, l.wallS))), "1/s"),
      (s"$commit.wall_s", m(commit)(_.wallS), "s"),
      (s"$commit.jobs", m(commit)(_.w.jobs.toDouble), "count"),
      (s"$commit.stages", m(commit)(_.w.stages.toDouble), "count"),
      (s"$commit.tasks", m(commit)(_.w.tasks.toDouble), "count"),
      (s"$commit.task_cpu_s", m(commit)(_.w.taskCpuS), "s"),
      (s"$commit.gc_s", m(commit)(_.w.gcS), "s"),
      (s"$commit.idle_core_s", m(commit)(idle), "s"),
      (s"$commit.shuffle_write_bytes", m(commit)(_.w.shuffleWriteBytes.toDouble), "B"),
      (s"$commit.spill_bytes", m(commit)(_.w.spillBytes.toDouble), "B"),
      (s"$commit.output_bytes", m(commit)(_.w.outputBytes.toDouble), "B"),
      (s"$commit.write_amp", med(commit)((op, l) =>
        perOp(op).get(stage).filter(_.w.outputBytes > 0)
          .map(s => l.w.outputBytes.toDouble / s.w.outputBytes)), "ratio"),
      (s"$commit.dedup_ratio", if (wl.dedup.isEmpty) 0.0 else Stats.median(wl.dedup.toSeq), "ratio"),
      ("archive.wall_s", m("archive")(_.wallS), "s"),
      ("warehouse.read.wall_s", m("warehouse.read")(_.wallS), "s"),
      ("warehouse.read.jobs", m("warehouse.read")(_.w.jobs.toDouble), "count"),
      ("query.exec.wall_s", m("query.exec")(_.wallS), "s"),
      ("query.exec.jobs", m("query.exec")(_.w.jobs.toDouble), "count"),
      ("query.exec.tasks", m("query.exec")(_.w.tasks.toDouble), "count"),
      ("query.exec.task_cpu_s", m("query.exec")(_.w.taskCpuS), "s"),
      ("query.exec.input_bytes", m("query.exec")(_.w.inputBytes.toDouble), "B"),
      ("query.exec.input_rows_per_result_row", med("query.exec")((op, l) =>
        wl.resultRows.get(op).map(n => l.w.inputRows.toDouble / math.max(1L, n))), "ratio"),
      ("op.self_s", if (opSelf.isEmpty) 0.0 else Stats.median(opSelf), "s")) ++
      Dashboard.kinds.map(k => (s"read.$k.wall_s", m(s"read.$k")(_.wallS), "s")) ++
      OperatorMix.rows.flatMap { r =>
        val l = s"operator.$r"
        Seq(
          (s"$l.wall_s", m(l)(_.wallS), "s"),
          (s"$l.jobs", m(l)(_.w.jobs.toDouble), "count"),
          (s"$l.stages", m(l)(_.w.stages.toDouble), "count"),
          (s"$l.tasks", m(l)(_.w.tasks.toDouble), "count"),
          (s"$l.task_cpu_s", m(l)(_.w.taskCpuS), "s"),
          (s"$l.gc_s", m(l)(_.w.gcS), "s"),
          (s"$l.idle_core_s", m(l)(idle), "s"),
          (s"$l.shuffle_write_bytes", m(l)(_.w.shuffleWriteBytes.toDouble), "B"),
          (s"$l.spill_bytes", m(l)(_.w.spillBytes.toDouble), "B"))
      } ++ Seq(
      ("spark.failed_tasks", work.values.map(_.failedTasks).sum.toDouble, "count"))
  }
}
