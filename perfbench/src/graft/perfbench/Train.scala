package graft.perfbench

import graft.SparkEntry
import graft.corpus.CorpusGen
import graft.pipeline.Pipeline

/** Training run of the class-data-sharing archive `perfbench/build.py`
  * writes: starts Spark as [[Main]] does, writes and queries small
  * driver tables and runs the KG pipeline on a few documents, so the
  * archive holds the Spark core, SQL and parquet classes every
  * benchmark JVM loads. Classes it misses load as usual.
  *
  * Usage: Train <work dir> <cores> */
object Train {
  def main(args: Array[String]): Unit = {
    val Array(work, cores) = args
    val spark = Main.session("train", work, cores.toInt)
    try {
      DriverData.write(spark, 0L, s"$work/tables")
      SparkEntry.queries("q1_agg")(spark, s"$work/tables").collect()
      val sf = 0.0002
      val (triples, cleanup) =
        Pipeline.runWithCleanup(spark, CorpusGen.rawDocs(spark, sf), CorpusGen.gazette(sf))
      triples.write.parquet(s"$work/triples")
      cleanup()
    } finally spark.stop()
  }
}
