package graft.perfbench

import graft.core.{CmsSketch, HllSketch, HtmlText, KllSketch, ReqSketch, TextOps, ThetaSketch, WebPages}

/** Single-thread `graft.core` figures. Sketches use the reference
  * `Bench.hs` shapes: 10^4 inserts into a fresh sketch (REQ k=6, HRA),
  * merging two 10^4-item sketches, and a serialize + deserialize round
  * trip. Text kernels run over a sample of the pipeline corpus. Each
  * figure is the median over timed repetitions after untimed warm-up. */
final class CoreProbes(tracer: Tracer, seed: Long) {
  private val N = 10000

  private def medianNs(warm: Int, reps: Int, units: Int)(run: () => Long): Double = {
    (0 until warm).foreach(_ => run())
    Stats.median((0 until reps).map(_ => run().toDouble / units))
  }

  private def timeNs(body: => Any): Long = {
    val t0 = System.nanoTime()
    body
    System.nanoTime() - t0
  }

  /** (update ns/item, merge ns/merge, serde ns/round trip) for one sketch. */
  private def sketch[S](name: String, fresh: () => S, update: (S, Int) => Unit,
                        merge: (S, S) => Unit, ser: S => Array[Byte],
                        de: Array[Byte] => S): Map[String, Double] = tracer.span("core.sketch", name) {
    def filled(offset: Int): S = { val s = fresh(); var i = 0; while (i < N) { update(s, i + offset); i += 1 }; s }
    val updateNs = medianNs(5, 15, N) { () => val s = fresh(); timeNs { var i = 0; while (i < N) { update(s, i); i += 1 } } }
    val a = ser(filled(0))
    val b = ser(filled(N))
    val mergeNs = medianNs(20, 60, 1) { () => val x = de(a); val y = de(b); timeNs(merge(x, y)) }
    val full = filled(0)
    val serdeNs = medianNs(20, 60, 1) { () => timeNs(de(ser(full))) }
    Map(s"core.$name.update_ns" -> updateNs, s"core.$name.merge_ns" -> mergeNs,
      s"core.$name.serde_ns" -> serdeNs)
  }

  def sketches(): Map[String, Double] = {
    val rnd = new scala.util.Random(seed)
    val values = Array.fill(2 * N)(rnd.nextDouble() * 1e6)
    val items = Array.tabulate(2 * N)(i => s"item-${values(i).toLong % 5000}")
    sketch[ReqSketch]("req", () => ReqSketch(k = 6, hra = true), (s, i) => s.update(values(i)),
      (x, y) => x.merge(y), _.serialize(), ReqSketch.deserialize) ++
    sketch[KllSketch]("kll", () => KllSketch(), (s, i) => s.update(values(i)),
      (x, y) => x.merge(y), _.serialize(), KllSketch.deserialize) ++
    sketch[HllSketch]("hll", () => HllSketch(), (s, i) => s.update(values(i).toLong),
      (x, y) => x.merge(y), _.serialize(), HllSketch.deserialize) ++
    sketch[ThetaSketch]("theta", () => ThetaSketch(), (s, i) => s.update(values(i).toLong),
      (x, y) => x.merge(y), _.serialize(), ThetaSketch.deserialize) ++
    sketch[CmsSketch]("cms", () => CmsSketch(), (s, i) => s.update(items(i)),
      (x, y) => x.merge(y), _.serialize(), CmsSketch.deserialize)
  }

  def textKernels(): Map[String, Double] = {
    val pages = WebPages.generate(200, seed).toArray
    val texts = pages.map(_.text)
    def perDoc(name: String, docs: Int)(k: Int => Any): (String, Double) =
      tracer.span("core.text", name) {
        val us = medianNs(2, 5, docs) { () => timeNs { var i = 0; while (i < docs) { k(i); i += 1 } } } / 1e3
        s"core.text.${name}_us_per_doc" -> us
      }
    Map(
      perDoc("extract", pages.length)(i => HtmlText.extract(pages(i).html)),
      perDoc("minhash", texts.length)(i => TextOps.minHash(texts(i))),
      perDoc("oph", texts.length)(i => TextOps.minHashOph(texts(i))),
      // ICWS costs milliseconds per document; a smaller sample keeps the probe short
      perDoc("icws", 40)(i => TextOps.weightedMinHash(texts(i))),
      perDoc("simhash", texts.length)(i => TextOps.simHash64(texts(i))),
      perDoc("winnow", texts.length)(i => TextOps.winnowedFingerprints(texts(i))),
      perDoc("doc_features", texts.length)(i => TextOps.docFeatures(texts(i))))
  }
}
