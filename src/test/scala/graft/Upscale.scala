package graft

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

/** 10× upscaler for the scale rehearsal (STATUS.md "sf1 rehearsal"):
  * replicates the driver's sf0.1 tables so headline queries can be
  * timed at ~sf1 locally before the 100 TB story is trusted.
  *
  * Replication is LINEAR by construction — naive verbatim copies
  * would explode near-dup pair counts quadratically and measure data
  * pathology, not plans:
  *  - documents: replica 0 is the original; replica i > 0 prefixes
  *    EVERY token with `r<i>` (disjoint vocabulary per replica), so
  *    within-replica dup/near-dup/gram structure is preserved exactly
  *    and NO cross-replica pair can form under any of the text
  *    metrics (jaccard, minhash, simhash, shared grams).
  *  - events: ids and users shift per replica (10× events over 10×
  *    users, same time range — the realistic growth shape for the
  *    temporal joins).
  *  - embeddings: ids shift; replica i's vectors are CYCLICALLY
  *    ROTATED by i positions — a permutation applied uniformly within
  *    a replica preserves norms and every intra-replica dot product
  *    (the ANN neighbor structure is exactly the original's), while
  *    cross-replica similarities scatter like random directions, so
  *    no quadratic near-dup pathology and no degenerate exact-tie
  *    top-k from verbatim copies.
  *  - part: partkeys shift, attributes copied — the analyzer-chain
  *    search queries scale their match set linearly (10× widget
  *    parts), fact references still resolve to replica-0 parts.
  *  - remaining dims/facts: copied through (their 10× variant was
  *    exercised in the earlier rehearsal; those operators are
  *    documents/events-bound).
  *
  * Usage: Test/runMain graft.Upscale [srcDir] [outDir] [factor]
  */
object Upscale {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/graft_sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = GraftSession.local(16)

    val docs = spark.read.parquet(s"$src/documents.parquet")
    val maxDoc = docs.agg(max("doc_id")).head().getLong(0) + 1
    (0 until factor).map { i =>
      if (i == 0) docs
      else docs.select(
        (col("doc_id") + lit(i * maxDoc)).as("doc_id"),
        regexp_replace(col("text"), "(\\S+)", s"r$i$$1").as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionByName _)
      .repartition(16)
      .write.mode(SaveMode.Overwrite).parquet(s"$out/documents.parquet")

    // via the loader: normalizes any driver timestamp flavor to micros
    val ev = graft.model.TableLoader.events(spark, src)
    val maxEv = ev.agg(max("event_id")).head().getLong(0) + 1
    val maxUser = ev.agg(max("user_id")).head().getLong(0) + 1
    (0 until factor).map { i =>
      ev.select((col("event_id") + lit(i * maxEv)).as("event_id"),
        col("ts"), (col("user_id") + lit(i * maxUser)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.reduce(_ unionByName _)
      .repartition(8)
      .write.mode(SaveMode.Overwrite).parquet(s"$out/events.parquet")

    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val maxVec = emb.agg(max("vec_id")).head().getLong(0) + 1
    (0 until factor).map { i =>
      if (i == 0) emb
      else emb.select(
        (col("vec_id") + lit(i * maxVec)).as("vec_id"),
        concat(slice(col("embedding"), lit(i + 1),
            size(col("embedding")) - lit(i)),
          slice(col("embedding"), lit(1), lit(i))).as("embedding"),
        col("label"))
    }.reduce(_ unionByName _)
      .repartition(8)
      .write.mode(SaveMode.Overwrite).parquet(s"$out/embeddings.parquet")

    val part = spark.read.parquet(s"$src/part.parquet")
    val maxPart = part.agg(max("p_partkey")).head().getLong(0) + 1
    (0 until factor).map { i =>
      part.withColumn("p_partkey", col("p_partkey") + lit(i * maxPart))
    }.reduce(_ unionByName _)
      .repartition(4)
      .write.mode(SaveMode.Overwrite).parquet(s"$out/part.parquet")

    Seq("region", "nation", "customer", "supplier", "orders",
      "lineitem").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode(SaveMode.Overwrite).parquet(s"$out/$t.parquet")
    }
    println(s"wrote $out (${factor}x documents/events)")
    spark.stop()
  }
}
