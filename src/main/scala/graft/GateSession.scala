package graft

import org.apache.spark.sql.SparkSession

/** The one session builder of the driver-contract mains (Bench, Verify,
  * Profile, ScaleRamp, Smoke, Explain): `local[cores]` with as many
  * shuffle partitions, UTC, UI off, and the engine's extensions (the
  * native asof strategy and SQL function registrations are part of the
  * engine under test). Callers set their own log level.
  */
object GateSession {
  /** Core count from `SPARK_GRAFT_CPUS` (default 32) — the bench contract. */
  def envCores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  def build(cores: Int): SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .withExtensions(new graft.core.GraftExtensions)
    .getOrCreate()
}
