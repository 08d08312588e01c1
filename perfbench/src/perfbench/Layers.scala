package perfbench

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.types.{BinaryType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.expr.ExtractMainText
import graft.extract.{Assemble, Extractor}
import graft.gen.{PageGen, PageRow}
import graft.html.{Boilerplate, FusedSegmenter}
import graft.pdf.PdfSpans

/** Single-threaded timings of the extraction layers' public functions,
  * called directly on generated documents: µs per document of the kind
  * each function handles. Each figure is the median of `reps` timed
  * loops after one warm-up loop. */
object Layers {

  final case class Sample(rows: Array[PageRow], kinds: Array[PageGen.Kind], genUsPerDoc: Double)

  /** Generate `n` pages from `firstId` on, timing `PageGen.row`. */
  def sample(tr: Tracer, firstId: Long, n: Int): Sample = {
    val ids = (firstId until firstId + n).toArray
    ids.take(200).foreach(PageGen.row) // warm-up
    val t0 = System.nanoTime()
    val rows = tr.span("gen.row")(ids.map(PageGen.row))
    val gen = (System.nanoTime() - t0) / 1e3 / n
    Sample(rows, ids.map(PageGen.kindOf), gen)
  }

  private def perDoc(reps: Int, n: Int)(loop: => Long): Double = {
    if (n == 0) return 0.0
    loop
    val ts = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      Main.sink += loop
      (System.nanoTime() - t0) / 1e3 / n
    }.sorted
    ts(ts.length / 2)
  }

  def measure(tr: Tracer, s: Sample, reps: Int = 3): Map[String, Double] = {
    def of(ks: PageGen.Kind*): Array[PageRow] =
      s.rows.indices.filter(i => ks.contains(s.kinds(i))).map(s.rows).toArray
    val html = of(PageGen.Html)
    val pdf = of(PageGen.Pdf)
    val bad = of(PageGen.BadUtf8, PageGen.BadPdf)

    val decodeUs = tr.span("extract.decode")(perDoc(reps, html.length) {
      var a = 0L; html.foreach(r => a += Extractor.decodeUtf8(r.html).get.length); a
    })
    val decoded = html.map(r => Extractor.decodeUtf8(r.html).get)
    val segmentUs = tr.span("html.segment")(perDoc(reps, html.length) {
      var a = 0L; decoded.foreach(d => a += FusedSegmenter.segmentRaw(d).n); a
    })
    val raw = decoded.map(FusedSegmenter.segmentRaw)
    val classifyUs = tr.span("html.classify")(perDoc(reps, html.length) {
      var a = 0L; raw.foreach(rb => a += Boilerplate.classifyRaw(rb, Boilerplate.Default).length); a
    })
    val keep = raw.map(rb => Boilerplate.classifyRaw(rb, Boilerplate.Default))
    val assembleUs = tr.span("extract.assemble")(perDoc(reps, html.length) {
      var a = 0L; var i = 0
      while (i < raw.length) { a += Assemble.fromRaw(raw(i), keep(i))._1.length; i += 1 }
      a
    })
    val pdfParseUs = tr.span("pdf.parse")(perDoc(reps, pdf.length) {
      var a = 0L; pdf.foreach(r => a += PdfSpans.parsePages(r.html).length); a
    })
    def extractUs(rows: Array[PageRow]): Double = perDoc(reps, rows.length) {
      var a = 0L
      rows.foreach { r => val x = Extractor.extract(r.html, r.lang); a += (if (x.text == null) 1 else x.text.length) }
      a
    }
    val htmlUs = tr.span("extract.html")(extractUs(html))
    val pdfUs = tr.span("extract.pdf")(extractUs(pdf))
    val errUs = tr.span("extract.error")(extractUs(bad))

    // the Catalyst expression over the same rows, minus the plain call
    val expr = ExtractMainText(BoundReference(0, BinaryType, nullable = true),
      BoundReference(1, StringType, nullable = true))
    val inRows = s.rows.map(r => InternalRow(r.html, UTF8String.fromString(r.lang)))
    val evalUs = tr.span("expr.eval")(perDoc(reps, inRows.length) {
      var a = 0L; inRows.foreach(r => a += expr.eval(r).asInstanceOf[InternalRow].numFields); a
    })
    val plainUs = tr.span("extract.all")(extractUs(s.rows))

    val n = s.rows.length.toDouble
    Map(
      "gen.row_us_per_doc" -> s.genUsPerDoc,
      "extract.decode_us_per_doc" -> decodeUs,
      "html.segment_us_per_doc" -> segmentUs,
      "html.classify_us_per_doc" -> classifyUs,
      "extract.assemble_us_per_doc" -> assembleUs,
      "pdf.parse_us_per_doc" -> pdfParseUs,
      "extract.html_us_per_doc" -> htmlUs,
      "extract.pdf_us_per_doc" -> pdfUs,
      "extract.error_us_per_doc" -> errUs,
      "extract.all_us_per_doc" -> plainUs,
      "expr.struct_us_per_doc" -> (evalUs - plainUs),
      "share.html" -> html.length / n,
      "share.pdf" -> pdf.length / n,
      "share.error" -> bad.length / n,
      "share.other" -> (n - html.length - pdf.length - bad.length) / n)
  }
}
