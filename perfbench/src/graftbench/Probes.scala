package graftbench

import java.util.concurrent.{Callable, Executors}

/** Host-speed probes, recorded beside every run's metrics and never
  * used to normalize them. `alu_s` and `bw_s` are fixed single-thread
  * core and memory-bandwidth workloads (the same loops as the engine's
  * bench calibration, at a smaller fixed size); `par_s` runs the ALU
  * loop on every core at once, so a box that is slow only at full
  * parallelism reads high there while the other two read normal. */
object Probes {
  private def alu(iters: Int): Double = {
    var x = 0x9E3779B97F4A7C15L
    var s = 0.0
    var i = 0
    while (i < iters) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      s += (x & 0xFFFF).toDouble * 1.0e-9
      i += 1
    }
    s
  }

  private lazy val bwArr: Array[Long] = {
    val a = new Array[Long]((128 << 20) / 8) // 128 MiB, past any LLC
    var i = 0
    while (i < a.length) { a(i) = i.toLong * 0x9E3779B97F4A7C15L; i += 1 }
    a
  }

  private def bw(): Double = {
    var s = 0L
    var pass = 0
    while (pass < 2) { // one touch per 64-byte line, 256 MiB of traffic
      var i = 0
      while (i < bwArr.length) { s += bwArr(i); i += 8 }
      pass += 1
    }
    s.toDouble
  }

  private var sink = 0.0

  /** Median of 3 timed calls after one untimed call. */
  private def median3(f: => Double): Double = {
    sink += f
    val ts = (1 to 3).map { _ =>
      val t0 = System.nanoTime(); sink += f; (System.nanoTime() - t0) / 1e9
    }.sorted
    ts(1)
  }

  private val AluIters = 25000000

  def measure(nproc: Int): Map[String, Double] = {
    val aluS = median3(alu(AluIters))
    val bwS = median3(bw())
    val pool = Executors.newFixedThreadPool(nproc)
    val parS =
      try median3 {
        val fs = (1 to nproc).map(_ => pool.submit(new Callable[Double] {
          def call(): Double = alu(AluIters)
        }))
        fs.map(_.get()).sum
      } finally pool.shutdownNow()
    Map("alu_s" -> aluS, "bw_s" -> bwS, "par_s" -> parS, "par_over_alu" -> parS / aluS)
  }
}

/** Minimal JSON writer for the run record (maps, sequences, numbers,
  * strings, booleans; non-finite numbers become null). */
object Json {
  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => write(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(write).mkString("[", ",", "]")
    case a: Array[_] => write(a.toSeq)
    case x => quote(x.toString)
  }

  def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
