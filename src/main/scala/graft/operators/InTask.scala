package graft.operators

/** In-task thread parallelism for the fused single-task kernels
  * ([[LocalDbscan]], [[GraphAnnLocal]]). A Spark task occupies one
  * scheduler slot, not one core: the fused paths give up the
  * distributed plan's parallelism to drop its per-job orchestration
  * floor, and this loop takes that parallelism back inside the task. */
private[graft] object InTask {

  /** Below this many items the loop runs serially on the caller. */
  val SerialCutoff = 512

  private val Chunk = 64

  /** Run `body(i)` exactly once for every `i` in `[0, total)`, on up to
    * 16 threads that take 64-item chunks from an atomic counter.
    * Bodies may only write per-index state or synchronise themselves.
    * The first exception a worker throws stops the others from taking
    * new chunks and is rethrown on the calling thread: a worker that
    * died silently would leave its chunks unprocessed, and the pass
    * would "succeed" with wrong results. */
  def parallelFor(total: Int)(body: Int => Unit): Unit = {
    val threads = math.max(1, math.min(
      Runtime.getRuntime.availableProcessors(), 16))
    if (threads == 1 || total < SerialCutoff) {
      var j = 0; while (j < total) { body(j); j += 1 }
    } else {
      val next = new java.util.concurrent.atomic.AtomicInteger(0)
      val firstError =
        new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val pool = (0 until threads).map { _ =>
        new Thread(() => {
          try {
            var start = next.getAndAdd(Chunk)
            while (start < total && firstError.get() == null) {
              val end = math.min(start + Chunk, total)
              var j = start
              while (j < end) { body(j); j += 1 }
              start = next.getAndAdd(Chunk)
            }
          } catch {
            case t: Throwable => firstError.compareAndSet(null, t)
          }
        })
      }
      pool.foreach(_.start())
      pool.foreach(_.join())
      if (firstError.get() != null) throw firstError.get()
    }
  }
}
