package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.MgAgg.mg_sketch

object HeavyHitters {

  /** Heavy-hitter terms per group: whitespace tokens of `textCol`
    * sketched per `groupCol` value with a `capacity`-counter Misra-Gries
    * summary. Output: (groupCol, term, cnt), count-descending ranks
    * implied by (cnt desc, term) order within a group.
    *
    * Scale shape: explode is row-local; [[graft.functions.MgSketchAgg]]
    * gets map-side partial aggregation, so every partition contributes
    * at most `capacity` counters per group to the one shuffle.
    */
  def terms(docs: DataFrame, groupCol: String = "source",
            textCol: String = "text", capacity: Int = 64): DataFrame =
    docs
      .select(col(groupCol).as("g"),
              explode(split(col(textCol), " ")).as("item"))
      .groupBy("g")
      .agg(mg_sketch(col("item"), capacity).as("hits"))
      .select(col("g").as(groupCol), explode(col("hits")).as("h"))
      .select(col(groupCol), col("h.item").as("term"), col("h.cnt").as("cnt"))

  /** The STREAMING form: heavy-hitter terms per event-time tumbling
    * window over a watermarked turn stream — "trending tokens per hour"
    * with per-window state bounded at `capacity` counters regardless of
    * vocabulary (the plain streaming count keys state by distinct term;
    * this sketch makes window state O(capacity) at firehose scale). The
    * sketch buffer IS the streaming aggregation state: partial MG
    * sketches merge across micro-batches exactly like map-side partials
    * merge in the batch form (same mergeable-summaries bound), windows
    * finalize on watermark in append mode and never re-emit. Output:
    * (window_start, term, cnt) — exact when a window's distinct term
    * count stays ≤ capacity (the driver-oracle regime).
    */
  def windowedTerms(src: DataFrame, watermark: String, width: String,
                    capacity: Int = 16): DataFrame =
    src.withWatermark("ts", watermark)
      .select(col("ts"), explode(split(col("text"), " ")).as("item"))
      .groupBy(window(col("ts"), width))
      .agg(mg_sketch(col("item"), capacity).as("hits"))
      .select(col("window.start").as("window_start"),
              explode(col("hits")).as("h"))
      .select(col("window_start"), col("h.item").as("term"),
              col("h.cnt").as("cnt"))
}
