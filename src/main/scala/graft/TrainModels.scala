package graft

/** Offline training of the frozen ANN models: prints the trained
  * centroids as Scala literals to paste into IvfModel / PqModel (the
  * DuckDB oracle replays the same literals).
  *
  * Usage: runMain graft.TrainModels <sfDir> --train-pq | --train-ivf
  */
object TrainModels {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession(32, "graft-train-models")
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    if (args.lift(1).contains("--train-pq")) {
      // one-off: train the per-subspace product-quantizer codebooks and
      // print them as Scala literals (frozen into PqModel so the DuckDB
      // oracle can replay encode + ADC lookup bit-for-bit)
      import org.apache.spark.sql.functions.{col, slice}
      val emb = spark.read.parquet(s"$dir/embeddings.parquet").repartition(8)
      val (mSub, subLen) = (8, 8)
      println("  val codebooks: Array[Array[Array[Double]]] = Array(")
      (0 until mSub).foreach { m =>
        val sub = emb.select(col("vec_id"),
          slice(col("embedding"), m * subLen + 1, subLen).as("embedding"))
        val (cents, costs) = operators.SimilarityOps.trainCentroids(spark, sub, k = 8, iters = 4)
        System.err.println(s"subspace $m costs: ${costs.mkString(", ")}")
        println("    Array(")
        cents.foreach(c => println(c.map(_.toString)
          .mkString("      Array(", ", ", "),")))
        println("    ),")
      }
      println("  )")
    }
    if (args.lift(1).contains("--train-ivf")) {
      // one-off: train the coarse quantizer and print it as Scala literals
      // (frozen into IvfModel so the DuckDB oracle can replay assignment)
      val emb = spark.read.parquet(s"$dir/embeddings.parquet").repartition(8)
      val (cents, costs) = operators.SimilarityOps.trainCentroids(spark, emb, k = 8, iters = 4)
      System.err.println(s"costs: ${costs.mkString(", ")}")
      println("  val centroids: Array[Array[Double]] = Array(")
      cents.foreach { c =>
        println(c.map(_.toString).grouped(6).map(_.mkString(", "))
          .mkString("    Array(", ",\n      ", "),"))
      }
      println("  )")
    }
    spark.stop()
  }
}
