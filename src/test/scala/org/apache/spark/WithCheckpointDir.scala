package org.apache.spark

/** Runs `body` with `dir` as the context's reliable checkpoint dir, then
  * restores the previous setting (usually none). setCheckpointDir cannot
  * unset the dir and `checkpointDir` is private to Spark, hence this
  * bridge.
  */
object WithCheckpointDir {
  def apply[T](sc: SparkContext, dir: String)(body: => T): T = {
    val prior = sc.checkpointDir
    sc.setCheckpointDir(dir)
    try body finally sc.checkpointDir = prior
  }
}
