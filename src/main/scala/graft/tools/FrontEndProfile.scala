package graft.tools

import java.nio.charset.StandardCharsets

import graft.extract.{Gazetteer, HtmlText}
import graft.pages.PageGen

/** Driver-side microbenchmark of the front-end per-doc kernels (NOT part
  * of the driver contract): splits the ~µs/doc cost of the timed
  * ScalingBench.frontEndOnce map work into synth / escape / decode /
  * extract / scan stages so optimization effort lands where the time is.
  * Pure JVM loops over the collected sf corpus — no Spark row overhead,
  * so the delta to the in-bench docs/s is the Dataset encode/decode tax.
  */
object FrontEndProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.LocalSession()
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text", "lang", "source")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
    spark.stop()
    val n = docs.length
    println(s"docs: $n")
    val gaz = Gazetteer(Gazetteer.DefaultEntities)

    def bench(name: String, reps: Int)(f: => Long): Unit = {
      var sink = 0L
      f // warm
      f // warm
      val t0 = System.nanoTime()
      var r = 0
      while (r < reps) { sink += f; r += 1 }
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"$name%-22s ${sec / reps}%8.4f s/pass  ${sec / reps / n * 1e6}%8.3f us/doc  (sink $sink%x)")
    }

    // stage 1: escape + template + getBytes
    val htmls = new Array[Array[Byte]](n)
    bench("synth(esc+tpl+utf8)", 5) {
      var i = 0; var s = 0L
      while (i < n) {
        val (id, text, lang, source) = docs(i)
        val h = PageGen.template(id, lang, source, HtmlText.escape(text))
          .getBytes(StandardCharsets.UTF_8)
        htmls(i) = h; s += h.length; i += 1
      }
      s
    }
    // stage 2: bytes -> decoded string
    val decoded = new Array[String](n)
    bench("decodeBytes", 5) {
      var i = 0; var s = 0L
      while (i < n) { val d = HtmlText.decodeBytes(htmls(i)); decoded(i) = d; s += d.length; i += 1 }
      s
    }
    // stage 3: extractMain on decoded string
    val texts = new Array[String](n)
    bench("extractMain(str)", 5) {
      var i = 0; var s = 0L
      while (i < n) { val t = HtmlText.extractMain(decoded(i)); texts(i) = t; s += t.length; i += 1 }
      s
    }
    // stage 2+3 fused as in the pipeline
    bench("extractMainFromBytes", 5) {
      var i = 0; var s = 0L
      while (i < n) { s += HtmlText.extractMainFromBytes(htmls(i)).length; i += 1 }
      s
    }
    // stage 4: trie scan
    bench("countMatches", 5) {
      var i = 0; var s = 0L
      while (i < n) { s += gaz.countMatches(texts(i)).size; i += 1 }
      s
    }
    // stage 5: counts -> sorted idx seq (as in frontEndOnce)
    val idx = graft.model.CodePoint.sorted(Gazetteer.DefaultEntities).zipWithIndex.toMap
    bench("counts->sortedIdx", 5) {
      var i = 0; var s = 0L
      while (i < n) {
        val m = gaz.countMatches(texts(i))
        s += m.toSeq.map { case (e, tf) => (idx(e), tf.toLong) }.sorted.length
        i += 1
      }
      s
    }
    // end-to-end per-doc kernel chain
    bench("full chain", 5) {
      var i = 0; var s = 0L
      while (i < n) {
        val (id, text, lang, source) = docs(i)
        val h = PageGen.template(id, lang, source, HtmlText.escape(text))
          .getBytes(StandardCharsets.UTF_8)
        val t = HtmlText.extractMainFromBytes(h)
        val m = gaz.countMatches(t)
        s += m.toSeq.map { case (e, tf) => (idx(e), tf.toLong) }.sorted.length
        i += 1
      }
      s
    }
  }
}
