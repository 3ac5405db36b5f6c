package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData

import graft.functions.VecKernels

/** Host and JVM probes: a fixed-work canary that tells a contended window
  * from a quiet one, GC time, retained heap, and the distance kernels timed
  * one call at a time. */
object Probes {
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Median wall time of a fixed scalar loop (16M multiply-adds) that
    * touches no engine code: it only moves when the host does. */
  def canaryMs(): Double = {
    val a = Array.tabulate(1024)(i => (i % 7).toFloat)
    val b = Array.tabulate(1024)(i => (i % 5).toFloat)
    var sink = 0.0f
    val times = (0 until 7).map { _ =>
      val t0 = System.nanoTime()
      var r = 0
      while (r < 16384) {
        var s = 0.0f; var i = 0
        while (i < 1024) { val d = a(i) - b(i); s += d * d; i += 1 }
        sink += s; r += 1
      }
      (System.nanoTime() - t0) / 1e6
    }
    if (sink == 42.0f) println("")
    median(times.drop(2))
  }

  def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum.toDouble

  /** Heap still in use after full collections. Spark frees the blocks of
    * unreferenced checkpoints and broadcasts from a cleaner thread once a
    * collection has queued them, so collect, let it run, and collect again. */
  def retainedHeapMb(): Double = {
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(300) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** ns per call of each kernel, median of 5 timed blocks, plus the bytes
    * each call reads. SIMD is switched per measurement and restored. */
  def kernels(): Map[String, Double] = {
    val rnd = new java.util.Random(7)
    def vec(d: Int) = UnsafeArrayData.fromPrimitiveArray(Array.fill(d)(rnd.nextFloat()))
    def time(calls: Int)(f: => Float): Double = {
      var sink = 0.0f
      val ts = (0 until 7).map { _ =>
        val t0 = System.nanoTime()
        var i = 0
        while (i < calls) { sink += f; i += 1 }
        (System.nanoTime() - t0).toDouble / calls
      }
      if (sink == 42.0f) println("")
      median(ts.drop(2))
    }
    val was = VecKernels.simdEnabled()
    def withSimd(on: Boolean)(f: => Double): Double =
      try { VecKernels.setSimdEnabled(on); f }
      catch { case _: IllegalStateException => Double.NaN }
      finally VecKernels.setSimdEnabled(was)
    val (a64, b64) = (vec(64), vec(64))
    val (a768, b768) = (vec(768), vec(768))
    val q128 = vec(128)
    val u128 = Array.fill(128)(rnd.nextInt(256).toByte)
    Map(
      "sos_d64_simd_ns" -> withSimd(true)(time(200000)(VecKernels.sos(a64, b64))),
      "sos_d64_scalar_ns" -> withSimd(false)(time(200000)(VecKernels.sos(a64, b64))),
      "sos_d768_simd_ns" -> withSimd(true)(time(50000)(VecKernels.sos(a768, b768))),
      "sos_d768_scalar_ns" -> withSimd(false)(time(50000)(VecKernels.sos(a768, b768))),
      "cosine_d768_simd_ns" ->
        withSimd(true)(time(50000)(VecKernels.cosineDistance(a768, b768))),
      "sos_u8_d128_ns" -> time(100000)(VecKernels.sosU8(q128, u128, false)),
      "sos_d64_bytes" -> 2 * 64 * 4.0,
      "sos_d768_bytes" -> 2 * 768 * 4.0,
      "cosine_d768_bytes" -> 2 * 768 * 4.0,
      "sos_u8_d128_bytes" -> (128 * 4 + 128).toDouble)
  }
}
