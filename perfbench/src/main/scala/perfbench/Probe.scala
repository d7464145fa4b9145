package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Checksums, SketchExpressions}

/** Kernel probe: ns per row of each codegen kernel, on the workload's own
  * input column, through the kernels' public column and SQL functions.
  * Each kernel is timed as a projection with the kernel minus the same
  * projection without it, over an in-memory copy of the inputs, so the
  * scan and the job overhead cancel.
  */
object Probe {
  private val reps = 3

  /** The workload's text column, its key, and how many copies of the
    * rows make the light base (cheap kernels need more rows than the
    * sketch kernels to rise above job overhead). */
  private def source(spark: SparkSession, dir: String, workload: String): (DataFrame, Int) =
    workload match {
      case "pmp_reports" =>
        (spark.read.parquet(s"$dir/customer.parquet").select(
          col("c_custkey").as("key"),
          concat_ws(" ", col("c_name"), col("c_mktsegment"),
            col("c_acctbal").cast("string"), col("c_nationkey").cast("string")).as("text")), 24)
      case _ =>
        (spark.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id").as("key"), col("text")), 16)
    }

  private def time(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e6
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** ns/row of `kernel` over `base`, net of the `plain` projection. */
  private def nsPerRow(base: DataFrame, rows: Long, kernel: Column, plain: Seq[Column]): Double = {
    val withK = base.select(plain :+ kernel.as("k"): _*)
    val without = base.select(plain: _*)
    time(withK); time(without)
    val pairs = (1 to reps).map(_ => (time(withK), time(without)))
    (median(pairs.map(_._1)) - median(pairs.map(_._2))) * 1e6 / rows
  }

  def run(spark: SparkSession, dir: String, workload: String): Map[String, Double] = {
    val (src, copies) = source(spark, dir, workload)
    val heavy = src.select(col("text"),
      split(col("text"), " ").as("tokens"),
      expr("word_shingles(text, 2)").as("sh")).persist()
    val heavyRows = heavy.count()
    val a = substring(col("text"), 1, 40)
    val light = src.withColumn("copy", explode(sequence(lit(1), lit(copies)))).select(
      substring(col("text"), 1, 64).as("t64"),
      a.as("a"),
      translate(a, "aeiou0123456789", "eioua1234567890").as("b"),
      concat(lit("AB"), lpad(((col("key") * 31 + col("copy")) % 10000000).cast("string"), 7, "0"))
        .as("dea"),
      lpad(((col("key") * 7919 + col("copy")) % 10000000000L).cast("string"), 10, "0")
        .as("npi")).persist()
    val lightRows = light.count()
    val (t, sh, tok) = (col("text"), col("sh"), col("tokens"))
    val (t64, ca, cb) = (col("t64"), col("a"), col("b"))
    val out = Map(
      "WordShingles" -> nsPerRow(heavy, heavyRows, expr("word_shingles(text, 2)"), Seq(t)),
      "MinHashSig" -> nsPerRow(heavy, heavyRows, expr("minhash_sig(sh, 16)"), Seq(sh)),
      "MinHashSigFast" -> nsPerRow(heavy, heavyRows, SketchExpressions.minhashSigFast(sh, 16), Seq(sh)),
      "SimHashBits" -> nsPerRow(heavy, heavyRows, expr("simhash_bits(tokens)"), Seq(tok)),
      "PolyHash" -> nsPerRow(light, lightRows, expr("poly_hash(t64)"), Seq(t64)),
      "JaroWinkler" -> nsPerRow(light, lightRows, expr("jaro_winkler(a, b)"), Seq(ca, cb)),
      "BandedLevenshtein" -> nsPerRow(light, lightRows, expr("levenshtein(a, b, 3)"), Seq(ca, cb)),
      "DeaChecksum" -> nsPerRow(light, lightRows, Checksums.deaValid(col("dea")), Seq(col("dea"))),
      "NpiChecksum" -> nsPerRow(light, lightRows, Checksums.npiValid(col("npi")), Seq(col("npi"))),
    )
    heavy.unpersist(true)
    light.unpersist(true)
    out.map { case (k, v) => s"functions.$k.ns_per_row" -> v } ++ Map(
      "functions.probe_rows_heavy" -> heavyRows.toDouble,
      "functions.probe_rows_light" -> lightRows.toDouble)
  }
}
