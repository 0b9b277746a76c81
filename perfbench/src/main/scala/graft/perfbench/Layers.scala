package graft.perfbench

/** Per-layer numbers of one traced pass, derived from its [[Window]]. */
object Layers {
  def of(w: Window, passS: Double): Map[String, Double] = {
    val j = w.jobs
    def sum(f: JobRec => Long) = j.map(f).sum.toDouble
    val busy = Trace.unionMs(j.map(x => (x.startMs.toDouble, x.endMs.toDouble)))
    Map(
      "exec.jobs" -> j.size.toDouble,
      "exec.stages" -> sum(_.stages),
      "exec.tasks" -> sum(_.tasks),
      "exec.task_ms" -> sum(_.taskMs),
      "exec.cpu_ms" -> sum(_.cpuMs),
      "exec.shuffle_write_bytes" -> sum(_.shuffleWrite),
      "exec.shuffle_read_bytes" -> sum(_.shuffleRead),
      "exec.spill_bytes" -> sum(_.spill),
      "exec.input_bytes" -> sum(_.input),
      "exec.job_busy_ms" -> busy,
      "driver.gap_ms" -> (passS * 1000 - busy).max(0.0),
      "jvm.gc_ms" -> w.gcMs.toDouble,
      "catalyst.executions" -> w.qes.size.toDouble,
      "catalyst.analysis_ms" -> w.qes.map(_.analysisMs).sum.toDouble,
      "catalyst.optimization_ms" -> w.qes.map(_.optimizationMs).sum.toDouble,
      "catalyst.planning_ms" -> w.qes.map(_.planningMs).sum.toDouble,
      "fs.read_ops" -> w.fs("read_ops").toDouble,
      "fs.write_ops" -> w.fs("write_ops").toDouble,
      "fs.list_ops" -> w.fs("list_ops").toDouble,
      "fs.bytes_written" -> w.fs("bytes_written").toDouble)
  }

  /** Sum two metric maps key by key. */
  def merge(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    (a.keySet ++ b.keySet).map(k =>
      k -> (a.getOrElse(k, 0.0) + b.getOrElse(k, 0.0))).toMap

  /** The pass's spans as JSON lines, each with its self time and the
    * jobs attributed to it.
    */
  def spanLines(w: Window, pass: Int): Seq[String] = {
    val self = Trace.selfMs(w.spans)
    val byspan = Trace.attribute(w)
    w.spans.map { s =>
      val js = byspan.getOrElse(s.id, Nil)
      Json(Map[String, Any]("pass" -> pass, "id" -> s.id, "op" -> s.op,
        "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "self_ms" -> self(s.id), "jobs" -> js.map(_.id),
        "job_busy_ms" -> Trace.unionMs(js.map(x =>
          (x.startMs.toDouble, x.endMs.toDouble))),
        "task_ms" -> js.map(_.taskMs).sum,
        "shuffle_write_bytes" -> js.map(_.shuffleWrite).sum))
    }
  }
}
