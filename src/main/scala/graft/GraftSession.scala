package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession the mains (Bench, BenchOne, Verify, Explain,
  * ScaleUp, MultiFile) and the specs run on, plus the JSON string escape
  * Bench and Verify write their records with. */
object GraftSession {
  /** The live session, or a new `local[cpus]` one with `cpus` shuffle
    * partitions, UTC session time (the TimestampNTZ→Timestamp cast in
    * Tables.normalizeEventTs is time-zone-sensitive), no UI, and WARN
    * logging. `cpus` defaults to SPARK_GRAFT_CPUS, else the bench
    * contract's 32. */
  def local(cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `s` as a quoted JSON string: backslash, quote and ALL control chars
    * (< 0x20) escaped — a tab or CR in builder-authored SQL or an env path
    * would otherwise make the reader's json.load fail. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
