package graft

import org.apache.spark.sql.SparkSession

/** The local session of the mains (Bench, Verify): `cpus` task
  * slots and shuffle partitions, UTC, no UI.
  *
  * `preferSortMergeJoin=false` allows a shuffled hash join where its
  * size conditions hold. At every bench SF this is a no-op (all joins
  * broadcast; plan hashes identical with/without, verified r22); past
  * broadcast scale the co-partitioned persisted self-joins (q22
  * band-sig, q24 sk) hash-join per partition with no sorts.
  * Precondition: the hash table holds one whole partition of the build
  * side and has no sort fallback, so that partition must fit in memory. */
object Session {
  def local(cpus: Int): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
