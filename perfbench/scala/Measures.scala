package graft.perfbench

/** What the recorder saw during a set of passes, attributed by time window
  * (jobs) and by job group (phases, batches). Layer metrics are per pass. */
final class RunMeasures(val ctx: Ctx, val passes: Seq[PassRec]) {
  private val rec = ctx.rec
  val n: Int = math.max(1, passes.size)
  val wallNs: Long = passes.map(_.ns).sum

  private def inPass(t: Long): Boolean = passes.exists(p => t >= p.start && t <= p.end)
  private val passIdx: Set[Int] = passes.map(_.idx).toSet

  val jobs: Seq[JobRec] = rec.synchronized(rec.jobs.values.toSeq).filter(j => inPass(j.start))
  val stages: Seq[StageRec] = rec.synchronized {
    jobs.flatMap(j => j.stages.flatMap(rec.stages.get).filter(_.job == j.id))
  }
  val ops: Seq[OpRec] = ctx.ops.toSeq.filter(o => passIdx(o.pass))
  private val opIds = ops.map(_.id).toSet
  val phases: Seq[PhaseRec] = ctx.phases.toSeq.filter(p => opIds(p.op))
  val queries: Seq[QeRec] = rec.synchronized(rec.queries.toSeq).filter(q => inPass(q.start))
  val batches: Seq[BatchRec] = rec.synchronized(rec.batches.toSeq).filter(b => inPass(b.start))

  /** Operation id a job group ("op12" or "op12/action") names. */
  def opOf(group: String): Option[Int] =
    if (group.startsWith("op")) group.drop(2).takeWhile(_.isDigit).toIntOption else None

  /** The phase a micro-batch ran in: the client thread waits for its
    * synchronous streaming calls, so the batch starts inside that phase. */
  def phaseOf(b: BatchRec): Option[PhaseRec] =
    phases.find(p => b.start >= p.start && b.start <= p.end)

  def readBytes: Long = stages.map(s => s.inBytes + s.shuffleRead).sum
  def writeBytes: Long = stages.map(s => s.shuffleWrite + s.outBytes).sum

  /** Pass time with no Spark job running, summed over the passes. */
  def driverGapMs: Long = passes.map { p =>
    Stats.uncovered(jobs.filter(_.end >= 0).map(j => (j.start, j.end)), p.start, p.end)
  }.sum

  /** The engine-layer metrics every workload reports, per pass. */
  def engineLayers: Map[String, Double] = {
    def pp(v: Double) = v / n
    val runMs = stages.map(_.runMs).sum
    val codegen = ctx.codegenDelta(passes)
    Map(
      "plan.queries" -> pp(queries.size),
      "plan.analysis_s" -> pp(queries.map(_.analysisMs).sum / 1e3),
      "plan.optimizer_s" -> pp(queries.map(_.optimizerMs).sum / 1e3),
      "plan.physical_s" -> pp(queries.map(_.physicalMs).sum / 1e3),
      "plan.graft_rules_s" -> pp(queries.map(_.graftRulesNs).sum / 1e9),
      "plan.aqe_replans" -> pp(jobs.map(_.execId).distinct.map(rec.aqeUpdates).sum),
      "codegen.compiles" -> pp(codegen._1),
      "codegen.compile_s" -> pp(codegen._2 / 1e3),
      "codegen.source_kb" -> pp(codegen._3 / 1024.0),
      "sched.jobs" -> pp(jobs.size),
      "sched.stages" -> pp(stages.count(_.tasks > 0)),
      "sched.tasks" -> pp(stages.map(_.tasks).sum),
      "sched.launch_wait_s" -> pp(stages.map(_.launchWaitMs).sum / 1e3),
      "sched.driver_gap_s" -> pp(driverGapMs / 1e3),
      "exec.task_run_s" -> pp(runMs / 1e3),
      "exec.task_cpu_s" -> pp(stages.map(_.cpuNs).sum / 1e9),
      "exec.gc_s" -> pp(stages.map(_.gcMs).sum / 1e3),
      "exec.busy_frac" -> runMs / 1e3 / math.max(1e-9, wallNs / 1e9 * ctx.cores),
      "io.scan_bytes" -> pp(stages.map(_.inBytes).sum),
      "io.shuffle_write_bytes" -> pp(stages.map(_.shuffleWrite).sum),
      "io.shuffle_read_bytes" -> pp(stages.map(_.shuffleRead).sum),
      "io.fetch_wait_s" -> pp(stages.map(_.fetchWaitMs).sum / 1e3),
      "io.spill_bytes" -> pp(stages.map(_.spill).sum),
      "io.output_bytes" -> pp(stages.map(_.outBytes).sum),
      "graft.construct_s" -> pp(phases.filter(_.name == "construct").map(_.ns).sum / 1e9),
      "graft.action_s" -> pp(phases.filter(_.name == "action").map(_.ns).sum / 1e9))
  }

  /** Span trees of these passes: workload (one per pass) → operation →
    * phase → micro-batch → job → stage. */
  def spans: Seq[Span] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Span]
    var next = 0
    def add(parent: Int, kind: String, name: String, s: Long, e: Long,
            attrs: Map[String, String] = Map.empty): Int = {
      out += Span(next, parent, kind, name, s, math.max(s, e), attrs)
      next += 1
      next - 1
    }
    val opSpan = scala.collection.mutable.HashMap.empty[Int, Int]
    val phaseSpan = scala.collection.mutable.HashMap.empty[String, Int]
    passes.foreach { p =>
      val root = add(-1, "workload", ctx.args.workload, p.start, p.end, Map("pass" -> p.idx.toString))
      ops.filter(_.pass == p.idx).foreach { o =>
        opSpan(o.id) = add(root, "op", s"${o.kind}:${o.name}", o.start, o.end, Map("ok" -> o.ok.toString))
      }
    }
    phases.foreach { ph =>
      opSpan.get(ph.op).foreach(parent => phaseSpan(ph.group) = add(parent, "phase", ph.name, ph.start, ph.end))
    }
    val batchSpans = batches.flatMap { b =>
      phaseOf(b).flatMap(ph => phaseSpan.get(ph.group))
        .map(parent => (b, add(parent, "batch", "batch", b.start, b.end, Map("run" -> b.runId))))
    }
    jobs.foreach { j =>
      val parent = phaseSpan.get(j.group)
        .orElse(opOf(j.group).flatMap(opSpan.get))
        .orElse(batchSpans.collectFirst {
          case (b, id) if b.runId == j.group && j.start >= b.start && j.start <= b.end => id
        })
      parent.foreach { p =>
        val jid = add(p, "job", s"job ${j.id}", j.start, if (j.end >= 0) j.end else j.start)
        stages.filter(s => s.job == j.id && s.submitted > 0 && s.completed > 0).foreach { s =>
          add(jid, "stage", s"stage ${s.id}", s.submitted, s.completed, Map("tasks" -> s.tasks.toString))
        }
      }
    }
    out.toSeq
  }
}
