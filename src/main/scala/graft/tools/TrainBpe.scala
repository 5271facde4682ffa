package graft.tools

import graft.GraftSession
import graft.functions.Bpe

/** Train a BPE merge table from a parquet corpus and print it as a
  * Scala literal (one pair per line) — how the pinned gate table in
  * TrainingQueries was produced. Usage:
  *   runMain graft.tools.TrainBpe <sfDir> [numMerges] [maxWords]
  */
object TrainBpe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val numMerges = args.lift(1).map(_.toInt).getOrElse(64)
    val maxWords = args.lift(2).map(_.toInt).getOrElse(50000)
    val spark = GraftSession.get(8)
    spark.sparkContext.setLogLevel("WARN")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val merges = Bpe.train(docs, "text", numMerges, maxWords)
    println("[bpe] merges:")
    merges.foreach { case (a, b) => println(s"""    ("$a", "$b"),""") }
    spark.stop()
  }
}
