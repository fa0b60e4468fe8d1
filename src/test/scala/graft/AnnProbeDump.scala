package graft
object AnnProbeDump {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(32, "ERROR")
    val dirs = args.filterNot(_.startsWith("--"))
    val sem = args.contains("--sem2l")
    dirs.foreach { dir =>
      if (sem) {
        val row = AnnProbe.all("x_dedup_semantic_2l_prod")(spark, dir).head()
        val (nTrue, nFound) = (row.getLong(0), row.getLong(1))
        println(s"[annprobe] $dir sem2l n_true=$nTrue n_found=$nFound " +
          s"n_pairs_full=${row.getLong(2)} " +
          f"recall=${nFound.toDouble / math.max(1L, nTrue)}%.3f")
      } else {
        val row = AnnProbe.all("x_dedup_emb_lsh_prod")(spark, dir).head()
        println(s"[annprobe] $dir n_exact=${row.getLong(0)} " +
          s"n_extra=${row.getLong(1)} n_miss=${row.getLong(2)} " +
          s"n_pairs_full=${row.getLong(3)}")
      }
    }
    spark.stop()
  }
}
