package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.gen.PageGen
import graft.pipeline.{ExtractJob, ExtractPipeline}
import graft.tables.IceTable

/** `commit`: each timed op is one `ExtractJob.run` (generate → extract
  * → bucket → 4 resume groups × 32 buckets → snapshot + lineage) into a
  * fresh table, followed by `ReadsPerOp` full-row read-backs of the
  * snapshot. The two are timed apart: docs per second of the commit,
  * and the geometric mean of the read-backs.
  * `ExtractJob.run` generates ids 0..n itself, so the seed does not
  * change the input. */
object CommitWorkload {
  val Docs = 6000L
  val Buckets = 32
  val Groups = 4
  val ReadsPerOp = 3

  /** Full-row digest of a table read: rows, digest, text bytes. */
  def readBack(df: DataFrame): (Long, java.math.BigDecimal, Long) = {
    val r = df.agg(count(lit(1)),
      sum(xxhash64(df.columns.toSeq.map(col): _*).cast("decimal(38,0)")),
      sum(coalesce(octet_length(col("text")), lit(0)))).collect()(0)
    (r.getLong(0), r.getDecimal(1), r.getLong(2))
  }

  def bytesUnder(f: java.io.File, keep: java.io.File => Boolean = _ => true): (Long, Long) =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
      .map(bytesUnder(_, keep)).foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    else if (keep(f)) (f.length(), 1L) else (0L, 0L)

  def run(ctx: Ctx): Unit = {
    val a = ctx.a
    val n = Docs
    val malformed = (0L until n).count(id => ExtractWorkload.malformed(PageGen.kindOf(id))).toLong
    ctx.say(s"commit: $n docs (ids 0..$n, not seeded), $Groups groups x $Buckets buckets, $malformed malformed")
    var tables = 0
    def freshRoot(): String = {
      tables += 1
      new java.io.File(a.work, s"table-$tables").getPath
    }
    def drop(root: String): Unit = ExtractWorkload.deleteTree(new java.io.File(root))

    ctx.setups { _ =>
      val root = freshRoot()
      ExtractJob.run(ctx.spark, root, n, buckets = Buckets, groups = Groups, commitId = "warm")
      readBack(new IceTable(root, ctx.spark).read())
      drop(root)
    }

    val commitU, commitT, readU, readT = scala.collection.mutable.ArrayBuffer.empty[Double]
    val digests = scala.collection.mutable.ArrayBuffer.empty[(Long, java.math.BigDecimal, Long)]
    var lastRoot = ""
    var lastSnap = -1L
    ctx.window(minOps = 3) { tr =>
      if (lastRoot.nonEmpty) drop(lastRoot)
      val root = freshRoot()
      lastRoot = root
      ctx.guarded("ExtractJob.run") {
        val (r, s) = ctx.timed(ctx.tracer.span("pipeline.commit")(
          ExtractJob.run(ctx.spark, root, n, buckets = Buckets, groups = Groups, commitId = s"c$tables")))
        (if (tr) commitT else commitU) += s
        lastSnap = r.snapshotId
        val table = new IceTable(root, ctx.spark)
        ctx.check("committed docs, error rows, snapshot rows", 3,
          Seq(r.docs == n, r.errorRows == malformed, table.readSnapshot(r.snapshotId).rows == n)
            .count(!_))
        (1 to ReadsPerOp).foreach { _ =>
          val (d, s2) = ctx.timed(ctx.tracer.span("tables.read")(readBack(table.read())))
          (if (tr) readT else readU) += s2
          digests += d
        }
      }
    }
    val commitS = ctx.median(commitU.toSeq)
    val readS = ctx.median(readU.toSeq)
    ctx.endToEnd("throughput_per_s") = (n / commitS, "1/s")
    // the read-back alone: throughput_per_s already covers ExtractJob.run
    ctx.endToEnd("op_geomean_ms") = (ctx.geomean(readU.toSeq.map(_ * 1000)), "ms")

    val table = new IceTable(lastRoot, ctx.spark)
    val root = new java.io.File(lastRoot)
    val (dataBytes, dataFiles) = bytesUnder(new java.io.File(root, "data"))
    val (parquetBytes, parquetFiles) =
      bytesUnder(new java.io.File(root, "data"), _.getName.endsWith(".parquet"))
    val (manifestBytes, _) = bytesUnder(new java.io.File(root, "metadata"),
      f => f.getName.startsWith("snap-") && f.getName.endsWith(".json"))
    val textBytes = digests.lastOption.map(_._3).getOrElse(0L)
    ctx.say(f"commit_docs_per_s = ${n / commitS}%.1f docs/s (median of ${commitU.size};" +
      f" s ${commitU.map(t => f"$t%.3f").mkString(" ")})")
    ctx.say(f"readback_docs_per_s = ${n / readS}%.1f docs/s (median of ${readU.size};" +
      f" s ${readU.map(t => f"$t%.3f").mkString(" ")})")
    ctx.say(f"table_bytes_per_text_byte = ${dataBytes.toDouble / textBytes}%.4f bytes/byte" +
      f" ($dataBytes B in $dataFiles files under data/, $parquetFiles parquet files of" +
      f" $parquetBytes B; $textBytes text bytes)")

    ctx.phase("check") {
      ctx.check("read-back rows and digest equal across commits", digests.size,
        digests.count(d => d._1 != n || d._2.compareTo(digests.head._2) != 0))
      val lin = table.lineage(Some(lastSnap))
        .agg(sum("rows"), sum("error_rows")).collect()(0)
      ctx.check("lineage rows and error_rows", 2,
        Seq(lin.getLong(0) == n, lin.getLong(1) == malformed).count(!_))
      val planted = udf((url: String) => PageGen.row(ExtractWorkload.idOf(url)).text)
      val ok = ExtractWorkload.rowOk(col("url"), planted(col("url")))
      val bad = table.read().agg(sum(when(ok, 0L).otherwise(1L))).collect()(0).getLong(0)
      ctx.check("committed text equals planted text", n, bad)
    }

    if (a.trace) ctx.spans {
      ctx.reportSpark(ctx.stats.snapshot(ctx.spark.sparkContext), commitT.size,
        commitT.sum + readT.sum)
      ctx.overhead(commitU.toSeq, commitT.toSeq)
      commitTable(ctx, n, commitS, readS, lastRoot, lastSnap)
      ctx.say(f"tables.data_files $dataFiles, tables.data_bytes $dataBytes," +
        f" tables.manifest_bytes $manifestBytes")
    }
    drop(lastRoot)
  }

  /** The commit op split into its phases, each run on its own. */
  def commitTable(ctx: Ctx, n: Long, commitS: Double, readS: Double,
                  root: String, snap: Long): Unit = {
    val spark = ctx.spark
    def t(name: String)(f: => Any): Double = ctx.timed(ctx.tracer.span(name)(f))._2
    val pages = ExtractPipeline.pages(spark, n).toDF()
    val gen = t("pipeline.gen_pass")(pages.agg(sum(length(col("html")))).collect())
    var hot: Seq[String] = Nil
    val hotS = t("pipeline.hot_hosts") { hot = ExtractPipeline.hotHosts(
      ExtractPipeline.pageUrls(spark, n), math.min(n, 2000L), 0.05, totalHint = n) }
    val genExtract = t("pipeline.gen_extract_pass")(
      ExtractPipeline.extracted(pages).agg(count(lit(1)), ExtractWorkload.checksum).collect())
    val pre = ExtractPipeline.withBucket(ExtractPipeline.extracted(pages), Buckets, hot, 8)
      .drop("salt").persist(StorageLevel.MEMORY_AND_DISK_SER)
    pre.count()
    val preRoot = root + "-pre"
    val commitOnly = t("tables.commit")(new IceTable(preRoot, spark).commit(pre, "pre", Groups))
    pre.unpersist()
    ExtractWorkload.deleteTree(new java.io.File(preRoot))
    val lineage = t("tables.lineage")(new IceTable(root, spark).lineage(Some(snap))
      .agg(sum("rows"), sum("error_rows")).collect())
    ctx.partsTable("commit op by phase", commitS, Seq(
      "pipeline.hot_hosts" -> hotS,
      "pipeline.gen_extract_pass" -> genExtract,
      "tables.commit (pre-extracted rows)" -> commitOnly,
      "tables.lineage" -> lineage))
    ctx.say(f"pipeline.gen_pass_s $gen%.4f (generation alone), tables.read_s $readS%.4f")
    val m = ctx.phase("layers")(Layers.measure(ctx.tracer, Layers.sample(ctx.tracer, 0L, 2500)))
    ctx.layerMetrics(m)
    ctx.say(f"gen.row_us_per_doc ${m("gen.row_us_per_doc")}%.2f; layer us per doc: " +
      m.toSeq.sortBy(_._1).filterNot(_._1.startsWith("share"))
        .map { case (k, v) => f"$k $v%.2f" }.mkString(", "))
  }
}
