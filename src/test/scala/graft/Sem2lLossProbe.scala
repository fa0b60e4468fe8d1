package graft
import graft.functions.VectorExprs
import graft.pipeline.Similarity
import org.apache.spark.sql.functions._

/** DIAGNOSTIC main (probe-only): decompose the two-level SemDeDup's
  * planted-pair loss at a decade corpus into (a) intrinsic SemDeDup
  * loss — the plant's FLAT nearest fine centroid differs from its
  * source's, so no within-cluster method can pair them — and (b)
  * two-level routing drift at each coarse-probe count P: flat agrees
  * but the top-P coarse routing splits them. (b) is the engine's
  * knob; the P-curve this prints is the measured tradeoff. */
object Sem2lLossProbe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(32, "ERROR")
    args.foreach { dir =>
      val e0 = spark.read.parquet(s"$dir/embeddings.parquet")
        .select("vec_id", "embedding")
      val n0 = e0.count()
      val stride = math.max(1L, (n0 + 1999) / 2000)
      val g = if (n0 <= 2000) e0
        else e0.where(pmod(xxhash64(col("vec_id")), lit(stride)) === 0)
      val planted = PipelineQueries.plantDups(g)
      val e = e0.unionByName(planted.select("vec_id", "embedding"))
      val n = e.count()
      val k = math.max(10L, math.min(1024L, n / 50L)).toInt
      val pairsSrc = planted.select(col("src"), col("vec_id").as("pid"))
      def agree(assign: org.apache.spark.sql.DataFrame): Long =
        pairsSrc.join(assign.toDF("src", "c_src"), "src")
          .join(assign.toDF("pid", "c_pid"), "pid")
          .where(col("c_src") === col("c_pid")).count()
      val total = pairsSrc.count()
      // flat ceiling (the same k/iters the 2L path trains)
      val flatAgree = agree(Similarity.kmeans(e, k, 2))
      println(s"[sem2l-loss] $dir k=$k plants=$total " +
        s"flat_same_cluster=$flatAgree " +
        f"flat_recall_ceiling=${flatAgree.toDouble / total}%.3f")
      // the 2L routing curve over P
      val fine = Similarity.kmeansCentroids(e, k, 2)
      val coarseK = math.max(1,
        math.min(32, math.ceil(math.sqrt(k.toDouble)).toInt))
      val (coarse, fineCell) = Similarity.lloydDriver(fine, coarseK, 2)
      val byCell = fineCell.zipWithIndex.groupBy(_._1).toIndexedSeq
        .sortBy(_._1)
        .map { case (cell, xs) => cell -> xs.map(_._2).sorted.toArray }
      val neCents = byCell.map { case (c, _) => coarse(c).toArray }.toArray
      val cellCents = byCell.map { case (_, f) =>
        f.map(fine(_).toArray) }.toArray
      val cellIds = byCell.map(_._2).toArray
      val ed = e.select(col("vec_id"),
        transform(col("embedding"), _.cast("double")).as("v"))
      Seq(1, 2, 4, 8, 16, neCents.length).distinct
        .filter(_ <= neCents.length).foreach { p =>
        val a = ed.select(col("vec_id"),
          VectorExprs.cellsArgmin(col("v"),
            VectorExprs.centroidTopNDist(col("v"), neCents, p),
            cellCents, cellIds).as("cluster"))
        val ag = agree(a)
        println(s"[sem2l-loss] $dir P=$p cells=${neCents.length} " +
          f"pair_agree=${ag.toDouble / total}%.3f " +
          f"vs_ceiling=${ag.toDouble / flatAgree}%.3f")
      }
    }
    spark.stop()
  }
}
