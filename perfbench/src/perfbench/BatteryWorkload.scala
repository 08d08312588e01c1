package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkEntry

/** `battery`: a fixed subset of `SparkEntry.queries` over the tables in
  * `perfbench/data`. Each setup runs one pass; each timed op is one warm
  * query. The seed permutes the query order. */
object BatteryWorkload {

  /** A subset, not all 94 queries, keeps a run within the benchmark's
    * time budget (README.md gives each one's share of a full warm pass):
    * d2 (n-gram Jaccard pairs), b1 (BM25 over a localCheckpoint'ed tf
    * table) and d6 (MinHash pairs, then the connected components the
    * graph queries use, one checkpoint barrier per round) are the
    * open dedup/text/graph work items; q5 (a window query, 0.36 s) stands
    * for the many sub-0.5 s relational queries, where planning and
    * scheduling dominate. */
  val Queries = Seq("d2_ngram_jaccard", "b1_bm25", "d6_dup_clusters", "q5_window")

  def family(q: String): String = q.takeWhile(_.isLetter) match {
    case "d" => "dedup"
    case "g" => "graph"
    case "t" | "b" => "text"
    case "s" => "similarity"
    case "x" => "extract"
    case "q" => "relational"
    case "m" => "media"
    case other => other
  }

  /** Row count and order-independent digest of a query result. */
  def digest(df: DataFrame): DataFrame = {
    val names = df.columns.indices.map(i => s"c$i")
    val d = df.toDF(names: _*)
    d.agg(count(lit(1)),
      sum(xxhash64(to_json(struct(names.map(col): _*))).cast("decimal(38,0)")))
  }

  def readExpected(path: String): Map[String, (Long, String)] = {
    val f = new java.io.File(path)
    if (!f.exists()) Map.empty
    else {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().filter(_.nonEmpty).map { l =>
        val Array(q, rows, dg) = l.split("\t")
        q -> (rows.toLong, dg)
      }.toMap
      finally src.close()
    }
  }

  def run(ctx: Ctx): Unit = {
    val a = ctx.a
    val dataDir = a.dataDir
    val expected = readExpected(a.expected)
    val missing = Queries.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(", ")}")
    val order = new scala.util.Random(a.seed).shuffle(Queries)
    ctx.say(s"battery: ${order.size} queries over $dataDir in order ${order.mkString(" ")}")

    /** One query: build, run its digest, compare with the expected one. */
    def query(q: String): (Double, DataFrame) = {
      val ((df, r), s) = ctx.timed {
        val df = digest(SparkEntry.queries(q)(ctx.spark, dataDir))
        (df, df.collect()(0))
      }
      val got = (r.getLong(0), r.getDecimal(1).toPlainString)
      ctx.check(s"$q rows/digest ${got} vs ${expected.get(q)}", 1,
        if (expected.get(q).contains(got)) 0 else 1)
      (s, df)
    }

    var storageCold = 0.0
    ctx.setups { _ =>
      order.foreach(q => ctx.guarded(q)(query(q)))
      storageCold = ctx.rddStorageMb
    }

    val untraced = scala.collection.mutable.Map.empty[String, Vector[Double]].withDefaultValue(Vector())
    val passU, passT = scala.collection.mutable.ArrayBuffer.empty[Double]
    val reused = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    var tracedOps = 0
    var total = SparkSnapshot.zero
    ctx.window(minOps = 5) { tr =>
      val (_, passS) = ctx.timed(order.foreach { q =>
        ctx.guarded(q) {
          val (s, df) = ctx.tracer.span(s"battery.$q")(query(q))
          if (tr) {
            total = total + ctx.stats.snapshot(ctx.spark.sparkContext)
            reused(q) = "ReusedExchange".r.findAllMatchIn(df.queryExecution.executedPlan.toString).size
            tracedOps += 1
          } else untraced(q) = untraced(q) :+ s
        }
      })
      (if (tr) passT else passU) += passS
    }

    val med = order.map(q => q -> ctx.median(untraced(q))).toMap
    val batteryS = med.values.sum
    val geo = ctx.geomean(med.values.toSeq.map(_ * 1000))
    ctx.endToEnd("throughput_per_s") = (order.size / batteryS, "1/s")
    ctx.endToEnd("op_geomean_ms") = (geo, "ms")
    ctx.say(f"battery_s = $batteryS%.3f s (sum of per-query medians over ${passU.size} warm passes;" +
      f" pass s ${passU.map(t => f"$t%.3f").mkString(" ")}), battery_geomean_ms = $geo%.1f ms")
    ctx.say("per query s: " + order.map(q => f"$q ${med(q)}%.3f").mkString(", "))
    val storageWarm = ctx.rddStorageMb
    ctx.say(f"spark.battery.rdd_storage_mb after cold pass $storageCold%.2f, after warm passes $storageWarm%.2f")

    if (a.trace) ctx.spans {
      val passes = math.max(1, passT.size).toDouble
      ctx.reportSpark(total, tracedOps, passT.sum)
      ctx.overhead(passU.toSeq, passT.toSeq)
      ctx.say(s"reused exchanges per query: " + order.map(q => s"$q ${reused(q)}").mkString(", "))
      ctx.say("per family s: " + order.groupBy(family).toSeq.sortBy(_._1)
        .map { case (f, qs) => f"battery.${f}_s ${qs.map(med).sum}%.3f" }.mkString(", "))
      ctx.partsTable("battery pass by part", batteryS, Seq(
        "catalyst planning (analysis+optimization+planning)" -> total.planningMs / 1000 / passes,
        "spark jobs (wall covered by running jobs)" -> total.jobWallMs / 1000 / passes))
      val m = ctx.phase("layers")(Layers.measure(ctx.tracer,
        Layers.sample(ctx.tracer, ExtractWorkload.firstId(a.seed, 2500), 2500)))
      ctx.layerMetrics(m)
    }
  }
}
