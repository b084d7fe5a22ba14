package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval. Spans opened by the benchmark wrap a call into one
  * layer; child records (stream epochs, Spark jobs) come from listener
  * events and point at the span that was open when they started. */
final case class Span(id: Int, name: String, layer: String, startNs: Long,
    endNs: Long, parent: Int, runId: String)

/** Task counters of the Spark jobs started under one span. */
final class Counters {
  var cpuNs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var jobs = 0L
  def add(o: Counters): Counters = {
    cpuNs += o.cpuNs; shuffleWrite += o.shuffleWrite; spill += o.spill; jobs += o.jobs; this
  }
}

/** One progress report of a streaming epoch, in the tracer's clock. */
final case class Epoch(batchId: Long, startNs: Long, triggerMs: Long,
    addBatchMs: Long, rows: Long)

/** In-memory span recorder plus the two public Spark listeners that supply
  * child records. When `on` is false every call is a pass-through and no
  * listener is registered, so the same code path measures the untraced
  * cost. */
final class Tracer(spark: SparkSession, val runId: String) {
  private val sc = spark.sparkContext
  private val PropKey = "perfbench.span"
  private val spans = mutable.ArrayBuffer[Span]()
  private val counters = mutable.HashMap[Int, Counters]()
  private val stageOwner = mutable.HashMap[Int, Int]()
  private val jobStart = mutable.HashMap[Int, (Long, Int)]()
  private val epochs = mutable.ArrayBuffer[Epoch]()
  private val stack = new ThreadLocal[List[Int]] { override def initialValue = Nil }
  private var nextId = 1
  private var active = false

  // listener timestamps are epoch-millis; spans use nanoTime
  private val clockOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private val t0Ns = System.nanoTime()
  private def fromMillis(ms: Long): Long = ms * 1000000L - clockOffsetNs

  def on: Boolean = active

  /** Span that owns the epochs of the running stream. */
  @volatile var streamParent = 0

  /** Innermost span open on the calling thread (0 = none). */
  def current: Int = stack.get.headOption.getOrElse(0)

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val owner = Option(e.properties).flatMap(p => Option(p.getProperty(PropKey)))
        .map(_.toInt).getOrElse(0)
      jobStart(e.jobId) = (fromMillis(e.time), owner)
      e.stageIds.foreach(s => stageOwner(s) = owner)
      counters.getOrElseUpdate(owner, new Counters).jobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach { case (t0, owner) =>
        spans += Span(-1, "spark.job", "spark", t0, fromMillis(e.time), owner, runId)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val c = counters.getOrElseUpdate(stageOwner.getOrElse(e.stageId, 0), new Counters)
        c.cpuNs += m.executorCpuTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      def ms(k: String): Long = if (d.containsKey(k)) d.get(k).longValue else 0L
      val start = fromMillis(java.time.Instant.parse(p.timestamp).toEpochMilli)
      Tracer.this.synchronized {
        epochs += Epoch(p.batchId, start, ms("triggerExecution"), ms("addBatch"),
          p.numInputRows)
        spans += Span(-1, "cdc.epoch", "cdc", start,
          start + ms("triggerExecution") * 1000000L, streamParent, runId)
      }
    }
  }

  /** Attach (true) or detach (false) the listeners. */
  def enable(flag: Boolean): Unit = if (flag != active) {
    if (flag) { sc.addSparkListener(jobListener); spark.streams.addListener(streamListener) }
    else { drain(); sc.removeSparkListener(jobListener); spark.streams.removeListener(streamListener) }
    active = flag
  }

  /** Wait until every queued listener event has been delivered. */
  def drain(): Unit = if (active) org.apache.spark.PerfbenchBus.drain(sc)

  /** Time `f` as a span of `layer`. Spark jobs submitted by `f` — and by
    * any thread it starts, such as a stream's execution thread — carry the
    * span id as a local property and are counted against it. */
  def span[A](name: String, layer: String)(f: => A): A = {
    if (!active) return f
    val id = synchronized { val i = nextId; nextId += 1; i }
    val parent = stack.get.headOption.getOrElse(0)
    val saved = sc.getLocalProperty(PropKey)
    stack.set(id :: stack.get)
    sc.setLocalProperty(PropKey, id.toString)
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      sc.setLocalProperty(PropKey, saved)
      stack.set(stack.get.tail)
      synchronized { spans += Span(id, name, layer, t0, t1, parent, runId) }
    }
  }

  /** Every recorded span as JSON, times in ms since the tracer started. */
  def spansJson: String = synchronized {
    Json.arr(spans.toList.map { s =>
      Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
        "name" -> Json.str(s.name), "layer" -> Json.str(s.layer),
        "start_ms" -> Json.num((s.startNs - t0Ns) / 1e6), "end_ms" -> Json.num((s.endNs - t0Ns) / 1e6),
        "run" -> Json.str(s.runId)))
    })
  }
  def allEpochs: Seq[Epoch] = synchronized(epochs.toList.filter(_.rows > 0))

  /** Task counters summed over every span whose name satisfies `p`,
    * including jobs started by its descendants. */
  def countersOf(p: String => Boolean): Counters = synchronized {
    val byId = spans.filter(_.id > 0).map(s => s.id -> s).toMap
    def hit(id: Int): Boolean = id > 0 && byId.get(id).exists(s => p(s.name) || hit(s.parent))
    counters.filter { case (id, _) => hit(id) }.values.foldLeft(new Counters)(_ add _)
  }

  /** Self time per layer: a span's duration minus the part of it covered
    * by its children. */
  def selfTimeByLayer: Map[String, Double] = synchronized {
    val kids = spans.groupBy(_.parent)
    // an epoch's children are the stream's jobs that started inside it
    def childrenOf(s: Span): Iterable[Span] =
      if (s.id > 0) kids.getOrElse(s.id, Nil)
      else if (s.name == "cdc.epoch") kids.getOrElse(s.parent, Nil).filter(c =>
        c.name == "spark.job" && c.startNs >= s.startNs && c.startNs < s.endNs)
      else Nil
    spans.toList.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => (s.endNs - s.startNs - covered(s, childrenOf(s))) / 1e9).sum
    }
  }

  private def covered(s: Span, children: Iterable[Span]): Long = {
    val iv = children.map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}
