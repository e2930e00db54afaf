import org.apache.spark.sql.{DataFrame, SparkSession}

package object graft {
  /** A declared query: (session, scale-factor dir) → result DataFrame.
    * The driver contract (SparkEntry.queries) — see SURVEY.md §2.2.
    */
  type Q = (SparkSession, String) => DataFrame

  /** The local session the harness mains run on: `local[cpus]`, UTC, no
    * UI, WARN logging, and the native graft expressions injected at
    * build (queries also call ensureRegistered, idempotent, for sessions
    * built elsewhere). Each main reads its own env defaults.
    */
  def localSession(cpus: String, shufflePartitions: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
