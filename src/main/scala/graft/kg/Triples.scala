package graft.kg

import graft.core.Triple
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Aggregations over the KG's (drug_subj, interaction_pred, drug_obj)
  * triples. The triples themselves are resolved inside the fused
  * `Pipeline.score` pass (sentence-local entity ids, broadcast canonical
  * map, no join) and committed by `io.Resume.writeResumable`.
  *
  * Scale decision (SURVEY §4):
  *   - hot-drug aggregations (e.g. triple counts per canonical drug —
  *     `warfarin` ×191 in the reference train split alone) go through a
  *     SALTED two-phase aggregation; `saltedCounts` and the plain groupBy
  *     are property-tested equal.
  */
object Triples {

  /** Two-phase salted count per (drugSubj): phase 1 groups on
    * (key, salt = pmod(hash(sid||e2), S)) so a hot drug's rows spread over
    * S reducers; phase 2 sums the S partials. Result is provably equal to
    * the direct groupBy (associative count) — kept as the skew-defusing
    * form for hot keys (SURVEY §4: salting; AQE skew handling is the
    * backstop for joins).
    */
  def saltedCounts(triples: Dataset[Triple], salts: Int = 32): DataFrame = {
    val t = triples.toDF()
    t.withColumn("salt", pmod(hash(col("sid"), col("e2")), lit(salts)))
      .groupBy(col("drugSubj"), col("salt"))
      .agg(count(lit(1)).as("partial"))
      .groupBy(col("drugSubj"))
      .agg(sum(col("partial")).as("n"))
  }

  /** Unsalted direct aggregation (the correctness oracle for salting). */
  def plainCounts(triples: Dataset[Triple]): DataFrame =
    triples.toDF().groupBy(col("drugSubj")).agg(count(lit(1)).as("n"))
}
