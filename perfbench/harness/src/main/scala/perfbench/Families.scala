package perfbench

import org.apache.spark.sql.SparkSession

/** The six session-snapshot families, each with its `prewarmShared` and the
  * queries it serves: a query consumes the snapshots of the module that
  * defines it. Modules without snapshots map to no family. */
object Families {
  final case class Family(name: String, prewarm: (SparkSession, String) => Unit,
      queries: Set[String])

  private def family(name: String, prewarm: (SparkSession, String) => Unit,
      specs: Seq[graft.QuerySpec]): Family = Family(name, prewarm, specs.map(_.name).toSet)

  lazy val all: Seq[Family] = {
    import graft.queries._
    Seq(
      family("dedup", TextDedup.prewarmShared, TextDedup.specs),
      family("similarity", Similarity.prewarmShared, Similarity.specs),
      family("curation", Curation.prewarmShared, Curation.specs),
      family("etl", EtlQueries.prewarmShared, EtlQueries.specs),
      family("relational", Relational.prewarmShared, Relational.specs),
      family("graph", GraphOps.prewarmShared, GraphOps.specs))
  }

  /** Families whose snapshots at least one of `queries` consumes. */
  def consumedBy(queries: Iterable[String]): Seq[Family] = {
    val qs = queries.toSet
    all.filter(f => f.queries.exists(qs))
  }
}
