package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** One timed interval, in epoch milliseconds. `kind` is `op` (one
  * benchmark operation), `call` (a benchmark wrapper around a call into
  * one module's public function), `job` or `stage` (from [[Listener]]).
  * `parent` and `op` of job and stage spans are resolved by
  * [[Tracer.tree]] from interval containment. */
final case class Span(id: Int, name: String, module: String, kind: String,
    parent: Int, op: Int, start: Double, end: Double) {
  def dur: Double = end - start
  def toJson: String =
    f"""{"id":$id,"name":"$name","module":"$module","kind":"$kind",""" +
      f""""parent":$parent,"op":$op,"start_ms":$start%.3f,"end_ms":$end%.3f}"""
}

/** Per-stage task totals, summed over the stage's finished tasks
  * (peak execution memory: the largest task's). */
final class StageWork {
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var spillB = 0L
  var peakExecB = 0L
  var shuffleWriteB = 0L
  def add(o: StageWork): Unit = {
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs; spillB += o.spillB
    peakExecB = math.max(peakExecB, o.peakExecB)
    shuffleWriteB += o.shuffleWriteB
  }
}

/** In-memory span store. Wrapper spans nest by a driver-thread stack;
  * everything stays in memory until [[Tracer.dump]] at the end. */
final class Tracer {
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1
  private var stack: List[Int] = Nil
  private var op = 0

  def newId(): Int = synchronized { val i = nextId; nextId += 1; i }
  def add(s: Span): Unit = synchronized { spans += s; () }

  /** Times `body` as a span; `kind = "op"` starts a new operation. */
  def span[T](name: String, module: String, kind: String = "call")(body: => T): T = {
    val id = newId()
    if (kind == "op") op = id
    val parent = stack.headOption.getOrElse(0)
    stack = id :: stack
    val s = nowMs
    try body
    finally {
      stack = stack.tail
      add(Span(id, name, module, kind, parent, op, s, nowMs))
    }
  }

  /** The spans of operation `opId`, with job parents resolved to the
    * innermost wrapper span containing the job's start, stage parents
    * to their job, and every child clipped to its parent's interval. */
  def tree(opId: Int, stageJob: Int => Option[Int]): Seq[Span] = synchronized {
    val root = spans.find(s => s.id == opId).get
    val inOp = (s: Span) => s.start >= root.start - 1 && s.start <= root.end + 1
    val calls = spans.filter(s => s.op == opId && s.kind != "job" && s.kind != "stage")
    def depth(s: Span): Int =
      if (s.parent == 0) 0 else calls.find(_.id == s.parent).map(depth(_) + 1).getOrElse(0)
    def clip(s: Span, p: Span): Span =
      s.copy(start = math.max(s.start, p.start), end = math.max(math.max(s.start, p.start), math.min(s.end, p.end)))
    val jobs = spans.filter(s => s.kind == "job" && inOp(s)).map { j =>
      val p = calls.filter(c => c.start <= j.start + 1 && c.end >= j.start - 1)
        .maxByOption(depth).getOrElse(root)
      clip(j.copy(parent = p.id, op = opId), p)
    }
    val byJob = jobs.map(j => j.name.stripPrefix("job ").toInt -> j).toMap
    val stages = spans.filter(s => s.kind == "stage").flatMap { s =>
      stageJob(s.name.stripPrefix("stage ").toInt).flatMap(byJob.get)
        .map(j => clip(s.copy(parent = j.id, op = opId), j))
    }
    calls.toSeq ++ jobs ++ stages
  }

  /** Exclusive ("self") time per span of one op tree: each instant
    * belongs to the deepest spans active at it, split evenly among
    * them when siblings overlap (parallel stages), so the self times
    * of a tree sum exactly to its root's wall time. */
  def selfTimes(tree: Seq[Span]): Map[Int, Double] = {
    val byId = tree.map(s => s.id -> s).toMap
    def depth(s: Span): Int = byId.get(s.parent).map(depth(_) + 1).getOrElse(0)
    val d = tree.map(s => s.id -> depth(s)).toMap
    val cuts = tree.flatMap(s => Seq(s.start, s.end)).distinct.sorted
    val self = mutable.Map.empty[Int, Double].withDefaultValue(0.0)
    cuts.sliding(2).foreach {
      case Seq(a, b) if b > a =>
        val active = tree.filter(s => s.start <= a && s.end >= b)
        if (active.nonEmpty) {
          val deepest = active.map(s => d(s.id)).max
          val top = active.filter(s => d(s.id) == deepest)
          top.foreach(s => self(s.id) += (b - a) / top.size)
        }
      case _ => ()
    }
    tree.map(s => s.id -> self(s.id)).toMap
  }

  def dump(path: java.nio.file.Path): Unit = synchronized {
    java.nio.file.Files.write(path,
      spans.map(_.toJson).mkString("[\n", ",\n", "\n]\n").getBytes("UTF-8"))
    ()
  }
}

/** The benchmark's own SparkListener. Always: named accumulator values
  * at stage end (the program's `Packets:`/`Errors:` counters). With a
  * tracer: job and stage spans, each job attributed to the program
  * module of the first `graft.` frame of its call site, and per-stage
  * task totals. Jobs that AQE submits from its own threads carry no
  * program frame; they are attributed from the `driver` thread's stack
  * when the job starts, which is then blocked inside the program call
  * that is waiting for them. */
final class Listener(tracer: Option[Tracer], driver: Thread) extends SparkListener {
  val accums = mutable.Map.empty[Long, (String, Long)]
  val stageWork = mutable.Map.empty[Int, StageWork]
  val stageToJob = mutable.Map.empty[Int, Int]
  val jobStart = mutable.Map.empty[Int, (Double, String)]

  def reset(): Unit = synchronized { accums.clear() }

  /** Sum of the named accumulators seen since the last [[reset]]. */
  def accum(name: String): Long = synchronized {
    accums.values.filter(_._1 == name).map(_._2).sum
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    si.accumulables.values.foreach { a =>
      (a.name, a.value) match {
        case (Some(n), Some(v: java.lang.Long)) if n.startsWith("pcap_") =>
          accums(a.id) = (n, v.longValue)
        case _ => ()
      }
    }
    tracer.foreach { t =>
      for (s <- si.submissionTime; c <- si.completionTime)
        t.add(Span(t.newId(), s"stage ${si.stageId}",
          if (si.taskMetrics != null && si.taskMetrics.shuffleWriteMetrics.bytesWritten > 0)
            "map" else "result",
          "stage", 0, 0, s.toDouble, c.toDouble))
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (tracer.isDefined) {
      e.stageIds.foreach(s => stageToJob(s) = e.jobId)
      val own = Listener.moduleOf(e.stageInfos.map(_.details).headOption.getOrElse(""))
      val module =
        if (!own.startsWith("other")) own
        else {
          val live = Listener.moduleOf(driver.getStackTrace
            .map(f => s"${f.getClassName}.${f.getMethodName}()").mkString("\n"))
          if (live.startsWith("other")) own else live
        }
      jobStart(e.jobId) = (e.time.toDouble, module)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    tracer.foreach { t =>
      jobStart.get(e.jobId).foreach { case (s, module) =>
        t.add(Span(t.newId(), s"job ${e.jobId}", module, "job", 0, 0, s, e.time.toDouble))
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (tracer.isDefined) synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val w = stageWork.getOrElseUpdate(e.stageId, new StageWork)
      w.runMs += m.executorRunTime
      w.cpuNs += m.executorCpuTime
      w.gcMs += m.jvmGCTime
      w.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
      w.peakExecB = math.max(w.peakExecB, m.peakExecutionMemory)
      w.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
    }
  }

  /** Task totals over the stages of the given jobs. */
  def work(jobIds: Set[Int]): StageWork = synchronized {
    val w = new StageWork
    stageWork.foreach { case (s, sw) =>
      if (stageToJob.get(s).exists(jobIds.contains)) w.add(sw)
    }
    w
  }

  def jobOfStage(stage: Int): Option[Int] = synchronized(stageToJob.get(stage))
}

object Listener {
  /** `sources.DefragPatch` for a call site whose first program frame is
    * `graft.sources.DefragPatch$.buildCapped(DefragPatch.scala:199)`;
    * `other:<first frame>` when no program frame is on it. */
  def moduleOf(callSite: String): String = {
    val frames = callSite.split('\n').map(_.trim).filter(_.nonEmpty)
    frames.find(_.startsWith("graft.")) match {
      case Some(l) =>
        val cls = l.takeWhile(_ != '(').split('.').dropRight(1)
        cls.drop(1).mkString(".").takeWhile(_ != '$')
      case None => "other:" + frames.headOption.getOrElse("").takeWhile(_ != '(')
    }
  }
}
