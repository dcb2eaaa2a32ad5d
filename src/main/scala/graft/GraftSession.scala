package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** The one session factory: UTC, sized shuffle partitions, and graft's
  * SQL functions plus its optimizer rule installed through
  * [[functions.GraftExtensions]]. `graft.Verify`, `graft.Bench`, the
  * test session and the benchmark all build through [[builder]] and add
  * only their own overrides. */
object GraftSession {

  def builder(master: String = "local[*]",
              shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .withExtensions(new functions.GraftExtensions)

  /** Extensions apply only when a session is created, so a session built
    * elsewhere before this call is refused rather than patched. */
  def getOrCreate(master: String = "local[*]",
                  shufflePartitions: Int = 32): SparkSession = {
    val s = builder(master, shufflePartitions).getOrCreate()
    // a registry lookup, not catalog.functionExists: that one parses the
    // name, and the parser's first use added ~1 s to a fresh JVM's first
    // session (perfbench etl_batch, 4 cores)
    require(s.sessionState.functionRegistry
        .functionExists(FunctionIdentifier("jaccard_sim")),
      "GraftSession: the active session was built without graft's " +
        "extensions; build it through GraftSession.builder or set " +
        "spark.sql.extensions=graft.functions.GraftExtensions")
    s
  }
}
