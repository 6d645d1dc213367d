package graft.perfbench

import java.util.concurrent.{Callable, Executors, TimeUnit}

/** A fixed piece of work that uses none of the engine's code, run on
  * `threads` threads at once and timed as one sample: a register-only
  * mixing loop (how much CPU the host gives) and a walk through a table
  * larger than the private caches (how fast memory answers). Its time moves
  * only with the speed the shared host gives the benchmark at that moment,
  * so [[Clock]] samples it right before each timed call (and right after a
  * long one) and the call's time is read in units of it.
  */
final class Gauge(threads: Int) {
  // 4 MiB per thread: past the private caches, like a task's working set
  private val tables = Array.tabulate(threads)(t => Array.tabulate(1 << 19)(i => (i + 1L) * (0x9E3779B97F4A7C15L + t)))
  private val pool = Executors.newFixedThreadPool(threads, (r: Runnable) => {
    val th = new Thread(r, "perfbench-gauge")
    th.setDaemon(true)
    th
  })

  private def walk(table: Array[Long], steps: Int): Long = {
    val mask = table.length - 1
    var h = 0L
    var i = 0
    while (i < steps) {
      h = h * 31 + table(((h ^ i) & mask).toInt)
      i += 1
    }
    h
  }

  private def mix(seed: Long, steps: Int): Long = {
    var h = seed
    var i = 0
    while (i < steps) {
      h ^= h << 13; h ^= h >>> 7; h ^= h << 17
      h = h * 0x9E3779B97F4A7C15L + i
      i += 1
    }
    h
  }

  @volatile private var sink = 0L

  private def timed(body: Int => Long): Double = {
    val t0 = System.nanoTime()
    val fs = (0 until threads).map(t => pool.submit(new Callable[Long] { def call(): Long = body(t) }))
    sink += fs.map(_.get(1, TimeUnit.MINUTES)).sum
    (System.nanoTime() - t0) / 1e6
  }

  /** One sample: wall ms until every thread has done a fixed register-only
    * mixing loop and then a fixed walk through its table.
    */
  def sample(): Double = timed(t => mix(t + 1L, 3000000) ^ walk(tables(t), 80000))
}
