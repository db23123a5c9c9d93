package graftbench

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.{GraftKernels, GraftTextKernels}
import org.apache.spark.unsafe.types.UTF8String

/** Single-thread timings of the per-row kernels behind the codegen
  * expressions, on a seeded array, called through their public entry points
  * (`GraftKernels`, `GraftTextKernels`, `MetaParsers`). Each figure is the
  * median of five repetitions, per call. Traced run only. */
object Kernels {

  private def median(xs: Seq[Double]): Double = { val s = xs.sorted; s(s.size / 2) }

  /** Time `n` calls of `f(i)` five times; per-call seconds (median). A sink
    * keeps the JIT from dropping the calls. */
  private def perCall(n: Int)(f: Int => Any): Double = {
    var sink = 0L
    def once(): Double = {
      val t0 = System.nanoTime()
      var i = 0
      while (i < n) { val r = f(i); if (r != null) sink += r.hashCode(); i += 1 }
      (System.nanoTime() - t0) / 1e9 / n
    }
    once() // warm
    val r = median((1 to 5).map(_ => once()))
    if (sink == 42) println("")
    r
  }

  def measure(seed: Long): Json = {
    val rnd = new scala.util.Random(seed)
    val n = 200000
    val lon = Array.fill(n)(rnd.nextDouble() * 360.0 - 180.0)
    val lat = Array.fill(n)(rnd.nextDouble() * 170.0 - 85.0)
    val cells = Array.tabulate(n)(i => GraftKernels.cellAt(lon(i), lat(i), 8))
    def rect(x0: Double, y0: Double, w: Double, h: Double): ArrayData =
      new GenericArrayData(Array[Any](x0, y0, x0 + w, y0, x0 + w, y0 + h, x0, y0 + h))
    val rings = Array.tabulate(64)(i => rect(lon(i), lat(i) * 0.9, 15.0, 7.5))
    val vocab = Array.tabulate(400)(i => UTF8String.fromString(s"w${i * 7919 % 1000}"))
    val docs = Array.tabulate(2000) { _ =>
      new GenericArrayData(Array.fill[Any](60)(vocab(rnd.nextInt(vocab.length))))
    }
    val hashes = docs.map(d => GraftTextKernels.shingleHashes(d, 5))
    val pat = java.util.regex.Pattern.compile("(\\w+)_(\\d{8})_(\\w+)")
    val names = Array.tabulate(2000)(i => UTF8String.fromString(
      s"WV0${i % 4}_2024${"%04d".format(i % 1231)}_${i}ABC_${i * 31}DEF_seg1"))
    val metas = Array.tabulate(500)(i =>
      s"Strip Metadata (v2.${i % 5})\nCreation Date: 2024-02-0${1 + i % 9}\n" +
        s"SC${i}_s1.tif 0.${i % 10} 0.1 -0.2\nScene Metadata\nscene 1=SC${i}_s1.tif\n" +
        s"Image 1=img_$i.tif\nOutput Projection='+proj=longlat +a=${i % 100} +b=2'\n" +
        s"scene 2=SC${i}_s2.tif\nImage 1=img2_$i.tif")

    val res = new Json()
    val ns = 1e9; val us = 1e6
    res.num("cells.cell_at_ns", perCall(n)(i => GraftKernels.cellAt(lon(i), lat(i), 12)) * ns)
    res.num("cells.geocell_ns", perCall(n)(i => GraftKernels.geocell(lon(i), lat(i))) * ns)
    res.num("cells.tile_id_ns", perCall(n / 4)(i => GraftKernels.tileId(lon(i), lat(i))) * ns)
    res.num("cells.cover_ring_us", perCall(256)(i => GraftKernels.coverCells(rings(i % 64), 8)) * us)
    res.num("cells.ring_range_us", perCall(2000)(i => GraftKernels.ringRange(cells(i), 0, 2)) * us)
    res.num("geom.pip_ns", perCall(n)(i => GraftKernels.pip(rings(i % 64), lon(i), lat(i))) * ns)
    res.num("crs.roundtrip_ns", perCall(n / 4)(i => GraftKernels.projRoundtripErr(lon(i), lat(i))) * ns)
    res.num("text.shingle_hashes_us", perCall(2000)(i => GraftTextKernels.shingleHashes(docs(i), 5)) * us)
    res.num("text.minhash_sig_us", perCall(2000)(i => GraftTextKernels.minhashSig(hashes(i), 16)) * us)
    res.num("text.simhash_sig_us", perCall(2000)(i => GraftTextKernels.simhashSig(hashes(i), 60)) * us)
    res.num("text.regexp_groups_us", perCall(2000)(i => GraftTextKernels.regexpGroups(pat, names(i))) * us)
    res.num("parse.strip_meta_us", perCall(500)(i => graft.parse.MetaParsers.parseStripMeta(metas(i))) * us)
    res
  }
}
