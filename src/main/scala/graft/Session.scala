package graft
import org.apache.spark.sql.SparkSession

/** The one way to build a local session: the oracle-parity confs every
  * driver shares (SURVEY §5) — `local[cpus]`, one shuffle partition per
  * core, UTC session time zone, UI off — plus the caller's `extra`
  * confs (Bench's `spark.local.dir`, the test suite's ANSI-off). ANSI
  * mode is NOT set here: Verify and Bench keep Spark's ANSI-on default,
  * which TextGateParitySpec distinguishes from the test session. */
object Session {
  def local(cpus: Int, extra: (String, String)*): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    extra.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }.getOrCreate()
  }

  /** Core count from `SPARK_GRAFT_CPUS`, else the driver's default. */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.toInt)
}
