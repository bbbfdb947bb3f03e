package graft

import org.apache.spark.sql.functions._

/** Dev-only: the GraphScaleProbe `all` section's TransE phase in isolation —
  * hash-derived facts over the amplified corpus, one transeStep, wall
  * seconds. Exists to bisect scale-level memory behavior of the trainer
  * without paying the other five phases. */
object TranseProbe {
  def main(args: Array[String]): Unit = {
    val corpusPath = args.headOption.getOrElse("/tmp/graft-bench-corpus")
    val spark = Main.session("graft-transe-probe")
    val docs = spark.read.parquet(corpusPath)
    val facts = docs.select(col("url").as("subj"),
        lit("hasAnnotation").as("pred"),
        concat(lit("C"), pmod(xxhash64(col("url"), lit(1)), lit(500L))).as("obj"))
      .unionAll(docs.select(col("url").as("subj"),
        lit("hasAnnotation").as("pred"),
        concat(lit("C"), pmod(xxhash64(col("url"), lit(2)), lit(500L))).as("obj")))
      .localCheckpoint()
    val nFacts = facts.count()
    val t0 = System.nanoTime()
    graft.ops.KgEmbed.transeStep(facts).count()
    println(f"""{"transe_n_facts":$nFacts,"transe_step_2m_sec":${(System.nanoTime() - t0) / 1e9}%.2f}""")
    spark.stop()
  }
}
