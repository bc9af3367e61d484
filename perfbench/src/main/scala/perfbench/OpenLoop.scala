package perfbench

/** Open-loop load arithmetic shared by the generators: events are due on a
  * fixed 100 ms grid whatever the system does, each stamped with its due
  * time, and a tick written late is charged its lateness rather than being
  * moved (a stall delays every later tick's writes, and the latency of the
  * events in them counts from when they were due).
  */
object OpenLoop {
  val TickMs = 100.0

  /** Events due in tick k at `eps` events/s: cumulative rounding, so any
    * ten consecutive ticks starting at a multiple of ten carry exactly eps.
    */
  def dueInTick(eps: Int, k: Long): Int =
    (eps.toLong * (k + 1) / 10 - eps.toLong * k / 10).toInt

  /** Due time of tick k of a phase starting at `startMs`. */
  def due(startMs: Double, k: Long): Double = startMs + k * TickMs

  /** How late each tick was written, from its due time and the time the
    * writer actually reached it (never negative: an early writer waits).
    */
  def lateness(dues: Seq[Double], actual: Seq[Double]): Seq[Double] =
    dues.zip(actual).map { case (d, a) => math.max(0.0, a - d) }

  private val origin = System.nanoTime()

  /** Milliseconds on the clock shared by the generators and receivers. */
  def nowMs: Double = (System.nanoTime() - origin) / 1e6

  /** Run `seconds` of ticks from now on the calling thread: wait until each
    * tick is due (a late tick does not shift the grid), then call
    * `tick(k, due)`. Returns each tick's lateness.
    */
  def run(seconds: Double)(tick: (Long, Double) => Unit): Seq[Double] = {
    val start = nowMs
    (0L until (seconds * 1000 / TickMs).round).map { k =>
      val d = due(start, k)
      val wait = d - nowMs
      if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
      val late = lateness(Seq(d), Seq(nowMs)).head
      tick(k, d)
      late
    }
  }

  /** Write a file so that a reader tailing the directory sees all of it or
    * none: into a hidden temporary name, then renamed into place.
    */
  def writeAtomically(dir: String, name: String, content: String): Unit = {
    val tmp = java.nio.file.Paths.get(dir, s".$name.tmp")
    java.nio.file.Files.writeString(tmp, content)
    java.nio.file.Files.move(tmp, java.nio.file.Paths.get(dir, name),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Cumulative distribution of a Zipf(s) law over n ranks. */
  def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = (1 to n).map(r => 1.0 / math.pow(r, s))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
  }

  /** The rank (0-based) a uniform draw u in [0, 1) selects. */
  def sample(cdf: Array[Double], u: Double): Int = {
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(cdf.length - 1, if (i >= 0) i + 1 else -i - 1)
  }
}
