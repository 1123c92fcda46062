package graft

/** Dev tool: print the formatted physical plan (and optionally row
  * counts of intermediate interest) for named queries.
  * Usage: runMain graft.Explain <sfDir> <query...>
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = args.drop(1)
    val spark = GraftSession()
    names.foreach {
      case "dev_d02_buckets" =>
        // histogram of LSH band-bucket sizes (skew diagnosis)
        import org.apache.spark.sql.functions._
        val banded = operators.Dedup.bandedKeys(Tables.documents(spark, sfDir))
        banded.groupBy("band_idx", "band_hash").count()
          .groupBy("count").agg(count(lit(1)).as("n_buckets"))
          .orderBy(col("count").desc).show(20, false)
      case "dev_ann_recall" =>
        // raw hit counts behind the s04/s05 gates (threshold tuning)
        import org.apache.spark.sql.functions._
        val exact = SparkEntry.queries("s01_cosine_topk")(spark, sfDir)
          .select("q_id", "neighbor_id")
        Seq("s02_ann_lsh_topk", "s03_ann_ivf").foreach { ann =>
          val a = SparkEntry.queries(ann)(spark, sfDir)
            .select(col("q_id"), col("neighbor_id"))
          println(s"$ann hits=${exact.join(a, Seq("q_id", "neighbor_id")).count()}" +
            s" / ${exact.count()}")
        }
      case n =>
        println(s"===== $n =====")
        val df = SparkEntry.queries(n)(spark, sfDir)
        df.explain("formatted")
        val t0 = System.nanoTime()
        val cnt = df.count()
        println(s"rows=$cnt in ${(System.nanoTime() - t0) / 1e9}s")
    }
    spark.stop()
  }
}
