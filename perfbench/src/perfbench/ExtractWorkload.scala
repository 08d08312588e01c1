package perfbench

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

import graft.ScalePair
import graft.gen.PageGen
import graft.pipeline.ExtractPipeline

/** `extract`: pages over a seed-chosen id range are staged as parquet,
  * then each timed op is one scan → graft_extract → aggregate pass over
  * the whole stage (the `Bench` x_extract shape), followed by small
  * requests: the same pass over a one-file stage of the range's first
  * `SmallDocs` pages, which runs as one task. Row-local, no table. */
object ExtractWorkload {
  val Docs = 24000L
  val SmallDocs = 240L
  val SmallPerOp = 3

  /** First page id of the seed's range; ranges of different seeds are
    * disjoint. */
  def firstId(seed: Long, n: Long): Long = (seed & 0xFFFFFL) * n

  /** Digest of the compiled generator, so a changed generator never
    * reads a stage written by the old one. */
  def genDigest(classesDir: String): String = {
    val dir = new java.io.File(classesDir, "graft/gen")
    val md = java.security.MessageDigest.getInstance("SHA-256")
    Option(dir.listFiles()).getOrElse(Array.empty[java.io.File]).sortBy(_.getName).foreach { f =>
      md.update(f.getName.getBytes("UTF-8"))
      md.update(java.nio.file.Files.readAllBytes(f.toPath))
    }
    md.digest().take(6).map("%02x".format(_)).mkString
  }

  /** Write pages [first, first + n) in `parts` files; by default with
    * the same partitioning as `ExtractPipeline.pages`. */
  def stage(spark: SparkSession, first: Long, n: Long, dir: String, parts: Int = 0): Unit = {
    import spark.implicits._
    val p = if (parts > 0) parts
      else math.min(n, spark.sparkContext.defaultParallelism.toLong * 4L).toInt
    spark.range(first, first + n, 1L, p)
      .mapPartitions(_.map(id => PageGen.row(id.longValue())))
      .write.mode("overwrite").parquet(dir)
  }

  /** Page id of a generated url (`…/doc-<id>`). */
  def idOf(url: String): Long = url.substring(url.lastIndexOf('-') + 1).toLong

  def malformed(k: PageGen.Kind): Boolean = k == PageGen.BadUtf8 || k == PageGen.BadPdf

  /** The correctness gate for one extracted row: `error` set iff the
    * payload is malformed, otherwise `text` byte-equals the planted
    * text. Null compares count as a mismatch. */
  def rowOk(url: Column, planted: Column): Column =
    when(udf((u: String) => malformed(PageGen.kindOf(idOf(u)))).apply(url), col("error").isNotNull)
      .otherwise(col("error").isNull && col("text") === planted)

  /** Order-independent digest of extraction output rows. */
  val checksum: Column =
    sum(xxhash64(col("url"), coalesce(col("text"), lit("∅")), col("spans"), col("error"))
      .cast("decimal(38,0)"))

  def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def run(ctx: Ctx): Unit = {
    val a = ctx.a
    val n = Docs
    val first = firstId(a.seed, n)
    val key = s"stage-s${a.seed}-n$n-g${genDigest(a.classesDir)}"
    ctx.say(s"extract: $n docs, ids [$first, ${first + n}), stage key $key")
    var dir, small = ""

    def pass(d: String): (Long, java.math.BigDecimal) = {
      val r = ExtractPipeline.extracted(ctx.spark.read.parquet(d))
        .agg(count(lit(1)), checksum).collect()(0)
      (r.getLong(0), r.getDecimal(1))
    }

    ctx.setups { i =>
      val prev = Seq(dir, small)
      dir = new java.io.File(a.work, s"$key-$i").getPath
      small = new java.io.File(a.work, s"$key-small-$i").getPath
      stage(ctx.spark, first, n, dir)
      stage(ctx.spark, first, SmallDocs, small, parts = 1)
      prev.filter(_.nonEmpty).foreach(p => deleteTree(new java.io.File(p)))
      pass(dir) // warm-up
      pass(small)
    }

    val untraced, traced, smallU = scala.collection.mutable.ArrayBuffer.empty[Double]
    val sums, smallSums = scala.collection.mutable.ArrayBuffer.empty[(Long, java.math.BigDecimal)]
    ctx.window(minOps = 10) { tr =>
      val (docsAndSum, s) = ctx.timed(ctx.tracer.span("pipeline.extract")(pass(dir)))
      sums += docsAndSum
      (if (tr) traced else untraced) += s
      // small requests only in untraced ops, so a traced op's Spark
      // counters cover the full pass alone
      if (!tr) (1 to SmallPerOp).foreach { _ =>
        val (r, s2) = ctx.timed(pass(small))
        smallSums += r
        smallU += s2
      }
    }
    val opS = ctx.median(untraced.toSeq)
    val docsPerS = n / opS
    val smallMs = ctx.geomean(smallU.toSeq.map(_ * 1000))
    ctx.endToEnd("throughput_per_s") = (docsPerS, "1/s")
    ctx.endToEnd("op_geomean_ms") = (smallMs, "ms")
    ctx.say(f"extract_docs_per_s = $docsPerS%.1f docs/s (median of ${untraced.size} passes;" +
      f" pass s ${untraced.map(t => f"$t%.3f").mkString(" ")})")
    ctx.say(f"small request ($SmallDocs docs, one task): geometric mean $smallMs%.1f ms," +
      f" median ${ctx.median(smallU.toSeq) * 1000}%.1f ms over ${smallU.size}")

    // correctness: every doc against the generator's planted text, and
    // every timed pass's checksum against the checked pass's
    ctx.phase("check") {
      def checkStage(what: String, d: String, docs: Long,
                     passes: Seq[(Long, java.math.BigDecimal)]): Unit = {
        val out = ExtractPipeline.extracted(
          ctx.spark.read.parquet(d).withColumnRenamed("text", "planted"), Seq("planted"))
        val r = out.agg(count(lit(1)),
          sum(when(rowOk(col("url"), col("planted")), 0L).otherwise(1L)), checksum).collect()(0)
        ctx.check(s"$what: docs staged", 1, if (r.getLong(0) == docs) 0 else 1)
        ctx.check(s"$what: doc text equals planted text", docs, r.getLong(1))
        ctx.check(s"$what: pass checksum", passes.size,
          passes.count { case (c, s) => c != docs || s.compareTo(r.getDecimal(2)) != 0 })
        ctx.say(s"check $what: ${r.getLong(0)} docs, ${r.getLong(1)} mismatched")
      }
      checkStage("full stage", dir, n, sums.toSeq)
      checkStage("small stage", small, SmallDocs, smallSums.toSeq)
    }

    if (a.trace) ctx.spans {
      ctx.reportSpark(ctx.stats.snapshot(ctx.spark.sparkContext), traced.size, traced.sum)
      ctx.overhead(untraced.toSeq, traced.toSeq)
      val scanS = ctx.median((1 to 3).map { _ =>
        ctx.timed(ctx.tracer.span("pipeline.scan") {
          ctx.spark.read.parquet(dir).agg(sum(length(col("html")))).collect()
        })._2
      })
      val m = ctx.phase("layers")(Layers.measure(ctx.tracer, Layers.sample(ctx.tracer, first, 2500)))
      ctx.layerMetrics(m)
      extractTable(ctx, m, n, opS, scanS)
    }

    if (a.pair) scalePair(ctx, dir, n)
    Seq(dir, small).foreach(p => deleteTree(new java.io.File(p)))
  }

  /** The extract op split into its layers: the single-threaded layer
    * costs are spread over `cores` tasks. */
  def extractTable(ctx: Ctx, m: Map[String, Double], n: Long, opS: Double, scanS: Double): Unit = {
    val perOp = n / ctx.a.cores.toDouble / 1e6 // µs per doc → s per op
    val html = m("share.html") * perOp
    val htmlRest = m("extract.html_us_per_doc") - m("extract.decode_us_per_doc") -
      m("html.segment_us_per_doc") - m("html.classify_us_per_doc") -
      m("extract.assemble_us_per_doc")
    ctx.partsTable("extract op by layer", opS, Seq(
      "pipeline.scan (html column pass)" -> scanS,
      "extract.decode" -> html * m("extract.decode_us_per_doc"),
      "html.segment" -> html * m("html.segment_us_per_doc"),
      "html.classify" -> html * m("html.classify_us_per_doc"),
      "extract.assemble" -> html * m("extract.assemble_us_per_doc"),
      "extract.html dispatch rest" -> html * htmlRest,
      "extract.pdf (incl. pdf.parse)" -> m("share.pdf") * perOp * m("extract.pdf_us_per_doc"),
      "extract.error" -> m("share.error") * perOp * m("extract.error_us_per_doc"),
      "expr.struct" -> perOp * m("expr.struct_us_per_doc")))
    val core = ctx.a.cores / n.toDouble * 1e6
    val unattributed = ctx.perLayer("op.unattributed_s")._1
    ctx.say(f"per doc per core: pipeline.scan_us_per_doc_core ${scanS * core}%.1f," +
      f" pipeline.extract_us_per_doc_core ${opS * core}%.1f," +
      f" pipeline.unattributed_us_per_doc_core ${unattributed * core}%.1f;" +
      f" single-threaded extract.all_us_per_doc ${m("extract.all_us_per_doc")}%.1f")
    ctx.say(f"kind shares: html ${m("share.html")}%.4f pdf ${m("share.pdf")}%.4f" +
      f" error ${m("share.error")}%.4f other ${m("share.other")}%.4f")
    ctx.say("layer us per doc: " + m.toSeq.sortBy(_._1).filterNot(_._1.startsWith("share"))
      .map { case (k, v) => f"$k $v%.2f" }.mkString(", "))
  }

  /** The host-sized N→4N pair: cores = nproc / 4 per leg, 4 legs. Only
    * `ScalePair.run` is called, so nothing is appended to the scaling
    * history. */
  def scalePair(ctx: Ctx, dir: String, n: Long): Unit = {
    ctx.spark.stop()
    ctx.spark = null
    val cores = math.max(1, ctx.a.nproc / 4)
    val r = ctx.phase("pair")(ScalePair.run(dir, cores = cores, legs = 4, reps = 3, heap = "1g"))
    ctx.check("scale pair: 4-leg checksum equals full leg", 1, if (r.checksumMatch) 0 else 1)
    ctx.say(f"scale_eff = ${r.efficiency}%.4f (t_alone ${r.tAlone}%.3f s / t_4N ${r.t4N}%.3f s;" +
      f" t_full ${r.tFull}%.3f s, strong_eff ${r.strongEfficiency}%.4f, valid ${r.valid}," +
      f" legs 4 x $cores cores over $n docs, comparable ${4 * cores <= ctx.a.nproc}," +
      f" steal alone/4N/full ${r.stealAlonePct}%.3f/${r.steal4nPct}%.3f/${r.stealFullPct}%.3f %%)")
  }
}
