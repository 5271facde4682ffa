package graft.tools

import graft.GraftSession
import graft.functions.Unigram

/** Train a unigram-LM piece table from a parquet corpus and print it
  * as a Scala literal (one (piece, cost) per line) — how the pinned
  * gate table in graft.functions.Unigram was produced. Usage:
  *   runMain graft.tools.TrainUnigram <sfDir> [vocabSize] [maxWords]
  */
object TrainUnigram {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val vocabSize = args.lift(1).map(_.toInt).getOrElse(160)
    val maxWords = args.lift(2).map(_.toInt).getOrElse(50000)
    val spark = GraftSession.get(8)
    spark.sparkContext.setLogLevel("WARN")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val pieces = Unigram.train(docs, "text", vocabSize, maxWords)
    println("[unigram] pieces:")
    pieces.foreach { case (p, c) =>
      val esc = p.replace("\\", "\\\\").replace("\"", "\\\"")
      println(s"""    ("$esc", $c),""")
    }
    spark.stop()
  }
}
