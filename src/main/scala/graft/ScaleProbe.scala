package graft

import org.apache.spark.sql.functions._

/** One-shot scale probe for the dedup/ANN family (r7 verdict stretch #7):
  * the 100× design claims near-linear scaling in |documents|; this measures
  * the exponent once instead of asserting it.
  *
  * Synthesizes a FACTOR× documents slice from the base SF: copy 0 is the
  * original corpus; copy i > 0 remaps doc_id by `i * maxId` and prefixes
  * every token with `c<i>` — cross-copy shingle/MinHash similarity drops to
  * zero while each copy keeps the original's internal near-dup structure,
  * so the scaled corpus is FACTOR independent corpora and the honest
  * near-linear baseline (naively duplicating text would instead inflate
  * every LSH bucket 10× and measure a densified graph, not scale). All
  * other tables symlink to the base SF.
  *
  * Prints one JSON line per (query, scale) and a final summary with the
  * observed exponent log(t_scaled/t_base)/log(factor) per query. Results
  * land in SCALE.md by hand — this main has no side effects outside
  * `outRoot`. It is the one volume probe; queries run on `Session`'s
  * session and per-query run, as in Bench.
  *
  * Usage: runMain graft.ScaleProbe [baseDir] [outRoot] [factor] [queriesCsv]
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val baseDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val outRoot = args.lift(1).getOrElse("/tmp/graft_scale")
    val factor = args.lift(2).flatMap(_.toIntOption).getOrElse(10)
    val queriesCsv = args.lift(3).getOrElse("q54_,q55_,q66_,q95_,q133_")
    val samples = sys.env.get("SPARK_GRAFT_SCALE_SAMPLES")
      .flatMap(_.toIntOption).getOrElse(2)
    val spark = Session.build()
    val scaledDir = s"$outRoot/x$factor"
    val fs = java.nio.file.Paths.get(scaledDir)
    if (!java.nio.file.Files.exists(fs.resolve("documents.parquet"))) {
      java.nio.file.Files.createDirectories(fs): Unit
      // symlink every base table; documents is replaced below
      val base = java.nio.file.Paths.get(baseDir)
      java.nio.file.Files.list(base).forEach { p =>
        val link = fs.resolve(p.getFileName)
        if (!java.nio.file.Files.exists(link) &&
            p.getFileName.toString != "documents.parquet")
          java.nio.file.Files.createSymbolicLink(link, p): Unit
      }
      val d = Tables.documents(spark, baseDir)
      val maxId = d.agg(max(col("doc_id"))).head.getLong(0) + 1L
      val copies = spark.range(factor.toLong).select(col("id").as("copy"))
      val scaled = d.crossJoin(copies)
        .select(
          (col("doc_id") + col("copy") * maxId).as("doc_id"),
          when(col("copy") === 0L, col("text")).otherwise(
            array_join(transform(split(col("text"), " "),
              t => concat(concat(lit("c"), col("copy")), t)), " "))
            .as("text"),
          col("lang"), col("source"))
        .withColumn("n_chars", length(col("text")))
      scaled.repartition(32).write.mode("overwrite")
        .parquet(fs.resolve("documents.parquet").toString)
      println(s"""{"probe":"built","dir":"$scaledDir","factor":$factor}""")
    }

    def time(fn: Q, dir: String): Double =
      (1 to samples).map(_ => Session.run(spark)(fn(spark, dir)).get).min
    val rows = Session.select(SparkEntry.queries, queriesCsv).map { case (name, fn) =>
      System.gc()
      val tBase = time(fn, baseDir)
      System.gc()
      val tScaled = time(fn, scaledDir)
      val exp = math.log(tScaled / tBase) / math.log(factor.toDouble)
      println(f"""{"query":"$name","t_base_sec":$tBase%.2f,"t_x$factor%d_sec":$tScaled%.2f,"exponent":$exp%.2f}""")
      (name, tBase, tScaled, exp)
    }
    val line = rows.map { case (n, a, b, e) =>
      f""""$n":[$a%.2f,$b%.2f,$e%.2f]""" }.mkString("{", ",", "}")
    spark.stop()
    println(s"""{"probe":"scale","factor":$factor,"base":"$baseDir","results":$line}""")
  }
}
