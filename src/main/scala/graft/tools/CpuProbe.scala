package graft.tools
import org.apache.spark.sql.functions._
/** Pure-CPU scaling probe: hash 2B longs, no shuffle, no disk. */
object CpuProbe {
  def main(args: Array[String]): Unit = {
    val cpus = ToolSession.cpus
    val spark = ToolSession()
    spark.range(0L, 100000000L, 1, cpus * 4)
      .select(sum(xxhash64(col("id")).cast("double"))).collect() // warmup
    val t0 = System.nanoTime()
    spark.range(0L, 2000000000L, 1, cpus * 4)
      .select(sum(xxhash64(xxhash64(xxhash64(col("id")))).cast("double"))).collect()
    println(f"""{"metric":"cpu_probe","cpus":$cpus,"sec":${(System.nanoTime()-t0)/1e9}%.2f}""")
    spark.stop()
  }
}
