package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Generator for the persisted derived 10× tier ("sf1-derived") that
  * `Probe tiers` (the dedup, er and sim sets) and the stretch oracle
  * runs read (VERDICT r11 #3: the probes used to derive their tier
  * in-process per run, so the measured factors were reproducible only
  * method-wise, not byte-wise). One `runMain graft.TierGen` writes the
  * tier once under `derived/sf1` (repo-local, gitignored — ~500 MB of
  * parquet is data, not source; THIS generator is the committed,
  * deterministic recipe) and every later probe run reads the identical
  * bytes.
  *
  * Contents:
  *   - `documents.parquet` — ten copies of the sf0.1 documents, copy i
  *     keyed `doc_id + i·(max(doc_id)+1)` with every token prefixed
  *     `c<i>_`: disjoint per-copy vocabularies mean no shingle, band,
  *     gram or fingerprint collides across copies, so the tier is "ten
  *     independent crawl shards" — 10× docs, vocabulary, and true-pair
  *     count with the internal dup rate preserved (naive byte-identical
  *     copies would be the flood-gate pathology instead).
  *   - `customer.parquet` — ten copies of the sf0.1 customers, copy i
  *     keyed `c_custkey + i·(max(c_custkey)+1)`, names re-rendered in
  *     the table's own `Customer#%09d` scheme so SNM adjacency and
  *     Levenshtein agreement see exactly a true 10× TPC-H tier;
  *     nation/segment/balance carried per copy so every frequency
  *     distribution (the Fellegi–Sunter u-probability inputs) is
  *     preserved verbatim.
  *   - `embeddings.parquet` — N signed-permutation copies (r13,
  *     replacing r12's rotation scheme whose 64-dim frame capped the
  *     family at 32 copies): copy i applies a per-copy seeded
  *     signed permutation of the 64 dims — an orthogonal transform,
  *     so every within-copy cosine/dot/norm is preserved (element
  *     reorder + exact f32 negation), while cross-copy vectors are
  *     mutually near-random (signs alone zero the expected cross
  *     cosine). The family is 64!·2⁶⁴ strong, so ANY copy count is
  *     collision-free — this is what unlocks the 100× similarity
  *     tier (VERDICT r12 #3).
  *   - `events.parquet` — ten id-strided copies (r12): 10× users and
  *     sessions over the same clock for the behavioral/session family.
  *   - symlinks for the remaining sf0.1 tables, so the tier dir is a
  *     complete sf layout: `Verify` + `scripts/check.py` can run the
  *     derived families' ORACLE twins at the 10× tier, not just time
  *     them.
  *
  * Copy stride is `max(id) + 1` — NOT the row count (ADVICE r11: with a
  * sparse id space, `id + i·count` silently collides across copies and
  * corrupts the tier's dedup/ER structure with no error; max+1 is
  * collision-free for any id distribution, at the cost of one
  * metadata-sized agg).
  */
object TierGen {
  val defaultTier = "derived/sf1"
  val base = "/root/testdata/sf0.1"

  private def stride(df: org.apache.spark.sql.DataFrame, idCol: String): Long =
    df.agg(max(col(idCol))).head().getLong(0) + 1L

  /** Land a DataFrame as a SINGLE parquet FILE at `path` — the driver
    * testdata layout (`<dir>/<table>.parquet` is a file, and
    * `scripts/check.py`'s DuckDB read_parquet expects exactly that):
    * write one part to a staging dir, move it into place. Single-file
    * at these sizes (≤ ~25 MB) also keeps scan parallelism symmetric
    * with the sf0.1 base the probes compare against. */
  private def writeSingle(df: org.apache.spark.sql.DataFrame, path: String): Unit = {
    val stage = path + ".stage"
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .getOrElse(throw new IllegalStateException(s"no part file under $stage"))
    java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(path),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(stage))
  }

  /** N disjoint-vocabulary copies of the base documents table. */
  def ensureDocuments(spark: SparkSession, tier: String, copies: Int = 10): Unit = {
    if (new java.io.File(s"$tier/documents.parquet").exists()) return
    val docs = Tables.documents(spark, base)
    val k = stride(docs, "doc_id")
    writeSingle(
      docs.withColumn("i", explode(array((0 until copies).map(lit): _*)))
        .select(
          (col("doc_id") + col("i") * k).as("doc_id"),
          expr("""array_join(transform(split(text, ' '),
                               t -> concat('c', i, '_', t)), ' ')""").as("text"),
          col("lang"), col("source"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .sort("doc_id"),
      s"$tier/documents.parquet")
    println(s"TIER $tier documents ${copies}x $base stride $k (disjoint-vocab copies)")
  }

  /** N re-rendered-name copies of the base customer table. */
  def ensureCustomer(spark: SparkSession, tier: String, copies: Int = 10): Unit = {
    if (new java.io.File(s"$tier/customer.parquet").exists()) return
    val c = Tables.customer(spark, base)
    val k = stride(c, "c_custkey")
    writeSingle(
      c.withColumn("i", explode(array((0 until copies).map(lit): _*)))
        .select(
          (col("c_custkey") + col("i") * k).as("c_custkey"),
          format_string("Customer#%09d", col("c_custkey") + col("i") * k)
            .as("c_name"),
          col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
        .sort("c_custkey"),
      s"$tier/customer.parquet")
    println(s"TIER $tier customer ${copies}x $base stride $k")
  }

  /** N signed-permutation copies of the base embeddings table: copy i
    * is keyed `vec_id + i·(max(vec_id)+1)` with the 64-dim vector put
    * through a PER-COPY seeded signed permutation (Fisher–Yates over
    * the dims + a sign per dim, both drawn from `java.util.Random`
    * seeded by the copy index — the LCG is specified by the platform
    * Javadoc, so the recipe is deterministic across JVMs). A signed
    * permutation is orthogonal: within-copy dot/cosine/norm structure
    * is preserved (element reorder + exact f32 negation — copy 0 is
    * the identity, so the sf0.1 structure embeds byte-identically),
    * while cross-copy vectors are mutually near-random (independent
    * signs zero the expected cross-copy cosine term-by-term). The
    * group has 64!·2⁶⁴ elements, so any tier size is collision-free —
    * no byte-identical vectors, no brute-force tie piles — unlike the
    * r12 rotation scheme, which repeated past 32 copies and capped
    * the similarity family's scaling probes at one decade. */
  def ensureEmbeddings(spark: SparkSession, tier: String, copies: Int = 10): Unit = {
    if (new java.io.File(s"$tier/embeddings.parquet").exists()) return
    val e = Tables.embeddings(spark, base)
    val k = stride(e, "vec_id")
    val dims = 64
    def copyDf(i: Int) = {
      val emb = if (i == 0) col("embedding") else {
        val rnd = new java.util.Random(0x5EED0000L + i)
        val perm = (0 until dims).toArray
        var j = dims - 1
        while (j > 0) {
          val r = rnd.nextInt(j + 1)
          val t = perm(j); perm(j) = perm(r); perm(r) = t
          j -= 1
        }
        val sign = Array.fill(dims)(rnd.nextBoolean())
        array((0 until dims).map { d =>
          val el = element_at(col("embedding"), perm(d) + 1)
          if (sign(d)) negate(el) else el
        }: _*)
      }
      e.select((col("vec_id") + lit(i.toLong) * k).as("vec_id"),
        emb.as("embedding"), col("label"))
    }
    writeSingle(
      (0 until copies).map(copyDf).reduce(_ unionByName _).sort("vec_id"),
      s"$tier/embeddings.parquet")
    println(s"TIER $tier embeddings ${copies}x $base stride $k (signed-permutation copies)")
  }

  /** Ten id-strided copies of the base events table: copy i re-keys
    * `event_id + i·(max(event_id)+1)` and `user_id + i·(max(user_id)+1)`
    * with ts/type/value/props carried verbatim — 10× users and 10×
    * sessions over the SAME clock, so every sessionization, window,
    * funnel and retention distribution is preserved per copy while the
    * per-user state space (the thing that actually scales in a
    * behavioral pipeline) grows 10×. Read through [[Tables.events]] so
    * the derived file always lands as TIMESTAMP(MICROS) regardless of
    * which physical ts type the base generation shipped. */
  def ensureEvents(spark: SparkSession, tier: String, copies: Int = 10): Unit = {
    if (new java.io.File(s"$tier/events.parquet").exists()) return
    val ev = Tables.events(spark, base)
    val kE = stride(ev, "event_id")
    val kU = stride(ev, "user_id")
    writeSingle(
      ev.withColumn("i", explode(array((0 until copies).map(lit): _*)))
        .select(
          (col("event_id") + col("i") * kE).as("event_id"),
          col("ts"),
          (col("user_id") + col("i") * kU).as("user_id"),
          col("event_type"), col("value"), col("props"))
        .sort("event_id"),
      s"$tier/events.parquet")
    println(s"TIER $tier events ${copies}x $base strides ($kE, $kU)")
  }

  /** Symlink every base table the tier does not derive, so the tier dir
    * is a complete sf layout for Verify/check.py. Idempotent. */
  def linkRest(tier: String, derived: Set[String]): Unit = {
    Seq("region", "nation", "supplier", "part", "orders", "lineitem",
      "events", "embeddings").filterNot(derived).foreach { t =>
      val link = java.nio.file.Paths.get(s"$tier/$t.parquet")
      if (!java.nio.file.Files.exists(link))
        java.nio.file.Files.createSymbolicLink(
          link, java.nio.file.Paths.get(s"$base/$t.parquet"))
    }
  }

  /** Drop a stale symlink left by an earlier TierGen generation whose
    * derived set was smaller (r12 added embeddings/events): ensureX's
    * exists-check would otherwise see the link and skip the derivation. */
  private def unlinkStale(tier: String, table: String): Unit = {
    val p = java.nio.file.Paths.get(s"$tier/$table.parquet")
    if (java.nio.file.Files.isSymbolicLink(p)) java.nio.file.Files.delete(p)
  }

  /** The tier's copies count, recorded beside the data (ADVICE r12: the
    * ensureX short-circuits check only file EXISTENCE, so invoking
    * TierGen on a dir previously generated at a DIFFERENT copies count
    * would silently reuse the stale data and every probe factor read
    * against it would be wrong). A missing marker under existing data
    * (a pre-r13 generation) counts as a mismatch too — scheme changes
    * (r13's signed-permutation embeddings) regenerate rather than mix. */
  private def copiesMarker(tier: String): java.io.File =
    new java.io.File(s"$tier/TIER_COPIES")

  private def wipeStaleTier(tier: String, copies: Int): Unit = {
    val dir = new java.io.File(tier)
    if (!dir.isDirectory) return
    val marker = copiesMarker(tier)
    val recorded =
      if (marker.exists())
        scala.util.Try(
          new String(java.nio.file.Files.readAllBytes(marker.toPath)).trim.toInt
        ).toOption
      else None
    val hasData = dir.listFiles().exists(_.getName.endsWith(".parquet"))
    if (hasData && !recorded.contains(copies)) {
      println(s"TIER $tier stale (recorded copies ${recorded.getOrElse("<none>")} " +
        s"!= requested $copies) — wiping and regenerating")
      // delete entries one by one: symlinks are removed as LINKS (never
      // following into the read-only base testdata)
      dir.listFiles().foreach { f =>
        if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
          org.apache.commons.io.FileUtils.deleteDirectory(f)
        else java.nio.file.Files.delete(f.toPath)
      }
    }
  }

  /** Build a tier of `copies` strided copies — every derived table
    * (documents, customer, events, embeddings) supports any copy count
    * since r13's signed-permutation embedding scheme removed the
    * rotation cap. */
  def ensureAll(spark: SparkSession, tier: String, copies: Int = 10): Unit = {
    new java.io.File(tier).mkdirs()
    wipeStaleTier(tier, copies)
    val derived = Set("documents", "customer", "events", "embeddings")
    derived.foreach(unlinkStale(tier, _))
    ensureDocuments(spark, tier, copies)
    ensureCustomer(spark, tier, copies)
    ensureEmbeddings(spark, tier, copies)
    ensureEvents(spark, tier, copies)
    linkRest(tier, derived)
    java.nio.file.Files.write(copiesMarker(tier).toPath,
      s"$copies\n".getBytes("UTF-8"))
  }

  def main(args: Array[String]): Unit = {
    val tier = args.headOption.getOrElse(defaultTier)
    val copies = if (args.length > 1) args(1).toInt else 10
    val spark = Sessions.build(8)
    ensureAll(spark, tier, copies)
    println(s"TIER $tier complete")
    spark.stop()
  }
}
