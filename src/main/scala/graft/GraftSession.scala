package graft

import org.apache.spark.sql.SparkSession

/** The one session recipe: `local[cores]` set up the way `graft.Bench`
  * runs the engine. Every spec and every `Dev*` main builds its session
  * here, so the plans they see are the plans the bench runs.
  *
  *   - `GraftExtensions`: the analyzer/optimizer/strategy injections,
  *     the SQL functions and the `table_changes` TVF;
  *   - the NIO local FS instead of the stock one, which forks a
  *     `chmod`/`ls` per created/inspected file on no-libhadoop hosts;
  *   - UTC session zone, and TIMESTAMP(NANOS) parquet read as longs
  *     (inert on the current fixtures);
  *   - shuffle partitions = cores, UI off.
  */
object GraftSession {
  def builder(cores: Int): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cores]")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.hadoop.fs.file.impl", "graft.hadoop.NioLocalFileSystem")
    .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
      "graft.hadoop.NioLocalFs")
    .config("spark.ui.enabled", "false")
}
