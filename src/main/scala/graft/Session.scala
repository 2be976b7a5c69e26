package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession every graft main and the test harness run on, so
  * the config that is benched is the config that ships:
  *  - the graft extensions (`dot_long`, `simhash`, … in SQL; the
  *    dot-product rewrite rule);
  *  - `local[cpus]` with shuffle partitions = cpus, where cpus is
  *    `SPARK_GRAFT_CPUS` or else the host's core count;
  *  - AQE on (runtime partition coalescing and skew-join splitting), UTC
  *    session time zone, no UI.
  *
  * `SPARK_GRAFT_MASTER` overrides the master: `dev/verify_cluster.sh` sets
  * it to `local-cluster[...]` to run with separate executor JVMs (real
  * closure serialization, no shared driver state), which is why the
  * executor classpath carries the graft classes.
  *
  * Joins stay on Spark's default preference (sort-merge): a session-wide
  * `preferSortMergeJoin=false` measured net negative over the sf0.1 gates,
  * so joins where shuffle-hash wins carry an explicit hint instead.
  *
  * A second call returns the session the first one built. */
object Session {
  def apply(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val graftClasses = new java.io.File(
      getClass.getProtectionDomain.getCodeSource.getLocation.toURI).getAbsolutePath
    SparkSession.builder()
      .withExtensions(new graft.extensions.GraftExtensions)
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      .config("spark.executor.extraClassPath", graftClasses)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }
}
