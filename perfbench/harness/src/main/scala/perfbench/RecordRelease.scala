package perfbench

import java.nio.file.Paths

/** Maintenance tool, not part of a timed run: publishes the generated
  * release under two seeds and prints the `etl_release` fingerprint lines
  * of `expected/fingerprints.tsv`. It fails unless both seeds give the same
  * fingerprints and the published row counts the generator predicts.
  *
  * Usage: RecordRelease <work dir>
  */
object RecordRelease {
  def main(args: Array[String]): Unit = {
    val work = Paths.get(args(0))
    val spark = Harness.session(work)
    val bySeed = Seq(1L, 2L).map { seed =>
      val release = ReleaseGen.write(work.resolve(s"staging-$seed"), seed)
      val out = work.resolve(s"published-$seed").toString
      val rows = graft.etl.Runner.run(spark, release.dir.toString, out).map(r => r.kind -> r.rows).toMap
      require(rows == Map("index" -> release.indexRows, "adult4" -> release.adultRows),
        s"published $rows, generator predicts ${release.indexRows} / ${release.adultRows}")
      val index = spark.read.parquet(s"$out/INDEX").drop("_TIMESTAMP")
      val adult4 = spark.read.parquet(s"$out/ADULT_4").drop("_TIMESTAMP")
      (Seq("INDEX" -> index, "ADULT_4" -> adult4) ++
        Release.views.map { case (name, view) => name -> view(index, adult4) })
        .map { case (name, df) => s"etl_release/$name\t${Fingerprint.of(df)}" }
    }
    require(bySeed.distinct.size == 1, "fingerprints differ between seeds")
    bySeed.head.foreach(println)
    spark.stop()
  }
}
