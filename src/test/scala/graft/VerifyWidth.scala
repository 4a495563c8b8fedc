package graft

/** `graft.Verify` with `spark.sql.shuffle.partitions` set to a width
  * other than the core count, on the built session: a hash that moves
  * with the width is a partitioning bug in the engine. Compare the dump
  * with the oracle afterwards:
  *
  * {{{
  * SPARK_GRAFT_CPUS=4 sbt -batch "Test/runMain graft.VerifyWidth <sfDir> <outDir> 7"
  * python3 tools/check_oracle.py <sfDir> --skip-run
  * }}}
  * `check_oracle.py` reads the dump from
  * `/tmp/graft_verify_<basename of sfDir>`, so pass that as `<outDir>`.
  */
object VerifyWidth {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, width) = args
    val spark = GraftSession()
    spark.conf.set("spark.sql.shuffle.partitions", width.toInt)
    Verify.run(spark, sfDir, outDir)
  }
}
