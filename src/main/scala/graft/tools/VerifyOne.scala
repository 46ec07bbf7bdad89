package graft.tools

/** Subset correctness dump for fast iteration:
  * runMain graft.tools.VerifyOne <sfDir> <outDir> <query...>
  * then: python3 tools/parity.py <sfDir> <outDir>. Same session and
  * dump as [[graft.Verify]], restricted to the named queries. */
object VerifyOne {
  def main(args: Array[String]): Unit = {
    val names = args.drop(2).toSet
    val spark = graft.GraftSession()
    graft.Verify.dump(spark, args(0), args(1), names.contains)
    spark.stop()
  }
}
