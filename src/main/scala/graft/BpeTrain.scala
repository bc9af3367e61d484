package graft

/** Re-derive the frozen BPE merge table
  * ([[graft.functions.BpeTokenizer.Merges]]): standard BPE training over
  * the sf0.001 fixture documents, printed as the Scala literal body of
  * `PinnedMerges.scala`. `runMain graft.BpeTrain [sfDir] [nMerges]`.
  */
object BpeTrain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val nMerges = args.lift(1).map(_.toInt).getOrElse(48)
    val spark = GraftSession.local(8)
    try {
      val merges = graft.functions.BpeTokenizer.trainOnCorpus(spark,
        Tables.documents(spark, sfDir).select("doc_id", "text"), nMerges)
      println("=== PinnedMerges.value ===")
      merges.foreach { case (a, b) =>
        def q(s: String) = "\"" + s.flatMap {
          case '"' => "\\\""; case '\\' => "\\\\"; case c => c.toString
        } + "\""
        println(s"    (${q(a)}, ${q(b)}),")
      }
      println("=== end ===")
    } finally spark.stop()
  }
}
