package graft.store

import graft.functions.Hash64
import graft.ingest.Quad
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Disk-backed graph with mutation support over immutable parquet
  * (SURVEY §2.1 insert/delete rows): the base datasets written by
  * [[graft.ingest.Build.write]] plus
  *
  *  - `triples_delta/` — appended insert parts (seq-stamped),
  *  - `iris_delta/`, `literals_delta/` — appended dictionary parts,
  *  - `tombstones/` — exact (s,p,o,g) delete markers (seq-stamped),
  *  - `tombstones_spg/` — o-wildcard (s,p,g) delete markers (seq-stamped),
  *  - `_seq` — the monotonic mutation sequence counter.
  *
  * `load()` composes base ∪ delta minus tombstones — O(1) mutations, no
  * rewrite of the base data; `compact()` folds everything back into a
  * fresh base. This is the standard delta/tombstone design for
  * append-only stores and scales to arbitrarily large bases (mutation
  * cost is proportional to the delta, not the base).
  *
  * Mutations are SEQUENCE-VERSIONED: every insert part and tombstone
  * batch carries a monotonically increasing `seq`, and a tombstone only
  * suppresses rows with a SMALLER seq (the base is seq 0). A triple
  * re-inserted after its delete therefore reappears — matching the
  * reference, where DELETE removes rows and a later INSERT adds them back
  * (query.py:502-617) — while an o-wildcard (s,p,g) tombstone keeps
  * suppressing the pre-delete objects without blocking future inserts on
  * that (s,p,g).
  *
  * Every read DECLARES its schema ([[Warehouse.schemas]], defined in the
  * companion next to the writers): a parquet read without one runs a
  * footer-reading Spark job to infer it, which a context load would pay
  * once per dir. Opening a store therefore reads footers only when a
  * query scans data. The declared schemas are exactly what Spark infers
  * from the writers' footers, so every analysed plan is the same;
  * `WarehouseSpec` pins each writer's output against them.
  */
final class Warehouse(val spark: SparkSession, val dir: String) {

  // all metadata I/O goes through the Hadoop FileSystem (StoreIO) so the
  // warehouse works on any URI Spark itself can write (local/HDFS/S3A)
  private def exists(sub: String): Boolean =
    StoreIO.exists(spark, s"$dir/$sub")

  private def read(sub: String): Option[DataFrame] =
    if (exists(sub)) Some(Warehouse.read(spark, dir, sub)) else None

  /** Next mutation sequence number (single-writer counter file; the
    * reference's queue tier likewise serializes writers). Starts at 2 so
    * pre-versioning deltas (legacy seq 1) and the base (seq 0) sort
    * below every new mutation. */
  private def nextSeq(): Long = synchronized {
    val p = s"$dir/_seq"
    val cur =
      if (StoreIO.exists(spark, p)) StoreIO.readString(spark, p).trim.toLong
      else 1L
    StoreIO.writeString(spark, p, (cur + 1).toString)
    cur + 1
  }

  /** One fresh mutation sequence number for an external writer (the
    * streaming ingest stamps each micro-batch's delta append with one,
    * keeping the delta schema uniform with [[insert]]'s rows and the
    * tombstone ordering correct for stream-re-asserted quads). Same
    * single-writer counter as [[insert]]/[[delete]]. */
  def nextMutationSeq(): Long = nextSeq()

  /** The last issued mutation sequence number, without consuming one —
    * derived-index staleness markers (`semantic_stale`) stamp with this
    * so their rows rank with (never above) the mutation they describe. */
  def currentSeq(): Long = synchronized {
    val p = s"$dir/_seq"
    if (StoreIO.exists(spark, p)) StoreIO.readString(spark, p).trim.toLong else 1L
  }

  /** Read a seq-versioned delta/tombstone dir, tolerating a MIX of
    * pre-versioning files (no seq column) and seq-stamped ones in the
    * same directory (a warehouse upgraded in place). The declared schema
    * carries a nullable `seq`, so a legacy file reads it as null, and
    * the nulls take the pre-versioning default: deltas sort as early
    * inserts (1), tombstones as latest (MaxValue) — both reproduce the
    * old unordered behavior. A null left in place would fail the
    * `T.seq < TS.seq` tombstone comparison and resurrect deleted quads. */
  private def readSeqDelta(sub: String, default: Long): Option[DataFrame] =
    read(sub).map(_.withColumn("seq", coalesce(col("seq"), lit(default))))

  /** base ∪ delta minus seq-aware tombstones, from the given base copy. */
  private def composeTriples(baseSub: String): Option[DataFrame] = {
    val base = read(baseSub).map(_.withColumn("seq", lit(0L)))
    val delta = readSeqDelta("triples_delta", 1L)
    val parts = Seq(base, delta).flatten
    if (parts.isEmpty) return None
    var triples = parts.reduce(_ unionByName _)
    readSeqDelta("tombstones", Long.MaxValue).foreach { ts =>
      triples = triples.as("T").join(
        ts.as("TS"),
        col("T.s") === col("TS.s") && col("T.p") === col("TS.p") &&
          col("T.o") === col("TS.o") && col("T.g") === col("TS.g") &&
          col("T.seq") < col("TS.seq"),
        "left_anti")
    }
    readSeqDelta("tombstones_spg", Long.MaxValue).foreach { ts =>
      triples = triples.as("T").join(
        ts.as("TS"),
        col("T.s") === col("TS.s") && col("T.p") === col("TS.p") &&
          col("T.g") === col("TS.g") && col("T.seq") < col("TS.seq"),
        "left_anti")
    }
    Some(triples.select("s", "p", "o", "g"))
  }

  /** base ∪ dedup(delta): the base dictionary is deduped at build time
    * and `insert()` appends only entries proven absent from the
    * then-composed dictionary (single-writer contract, [[nextSeq]]), so
    * only delta-INTERNAL repeats are possible (e.g. a torn earlier
    * append). Deduping just the delta keeps the per-load cost
    * proportional to the delta — never a full-dictionary shuffle. */
  private def composeDict(base: String, delta: String): DataFrame =
    (read(base), read(delta)) match {
      case (Some(b), Some(d)) =>
        b.unionByName(d.groupBy("hash").agg(first("value").as("value")))
      case (Some(b), None) => b
      case (None, Some(d)) => d.groupBy("hash").agg(first("value").as("value"))
      case _ => throw new IllegalStateException(s"warehouse $dir has no $base data")
    }

  def load(): Graph = {
    recoverIfNeeded()
    val triples = composeTriples("triples")
      .getOrElse(throw new IllegalStateException(s"warehouse $dir has no triples data"))
    // the s-sorted copy composes through the same delta/tombstone logic;
    // deltas are unsorted appends, so subject pruning degrades gracefully
    // to the delta fraction until compact() resorts everything
    val byS = if (exists("triples_by_s")) composeTriples("triples_by_s") else None
    Graph(spark, triples, composeDict("iris", "iris_delta"),
      composeDict("literals", "literals_delta"), byS = byS)
  }

  /** Validated point insert: appends delta parts (query.py:529-617
    * semantics — whole batch refused on invalid/duplicate).
    * `onNewLiterals` fires with the (hash, value) rows that entered the
    * literals dictionary — the hook derived-index maintainers use
    * (Bikidata appends the rows to the FTS index, O(delta) instead of a
    * rebuild); the frame is persisted by the validation pass, so
    * consuming it re-runs nothing. */
  def insert(quads: Seq[Quad],
      onNewLiterals: DataFrame => Unit = _ => ()): MutationResult = {
    import spark.implicits._
    val graph = load()
    val (_, res, newIris, newLits) = Mutations.insertWithDeltas(graph, quads)
    if (res.error.isDefined) return res
    val seq = nextSeq()
    quads.map(q => (Hash64.hashString(q.s), Hash64.hashString(q.p),
        Hash64.hashString(q.o), Hash64.hashString(q.g), seq))
      .toDF("s", "p", "o", "g", "seq")
      .write.mode(SaveMode.Append).parquet(s"$dir/triples_delta")
    // dictionary delta frames come straight from the validation pass
    // (persisted there) — no recomputation against the loaded graph
    if (res.irisInserted > 0)
      newIris.write.mode(SaveMode.Append).parquet(s"$dir/iris_delta")
    if (res.literalsInserted > 0) {
      newLits.write.mode(SaveMode.Append).parquet(s"$dir/literals_delta")
      onNewLiterals(newLits)
    }
    res
  }

  /** Validated delete: appends seq-stamped tombstones. */
  def delete(
      items: Seq[(String, String, Option[String], String)],
      areHashes: Boolean = false): MutationResult = {
    import spark.implicits._
    val graph = load()
    def toHash(v: String): Long =
      if (areHashes) java.lang.Long.parseUnsignedLong(v) else Hash64.hashString(v)
    val exact = items.collect { case (s, p, Some(o), g) =>
      (toHash(s), toHash(p), toHash(o), toHash(g)) }
    val wild = items.collect { case (s, p, None, g) => (toHash(s), toHash(p), toHash(g)) }
    // shared batch validation (query.py:478-482 refuses the whole batch)
    // — same subject-probed, concurrent implementation as Mutations.delete
    if (!areHashes && Mutations.deleteBatchMissing(graph, exact, wild))
      return MutationResult(error = Some("Triple does not exist, skipping delete"))
    val seq = nextSeq()
    if (exact.nonEmpty)
      exact.map { case (s, p, o, g) => (s, p, o, g, seq) }
        .toDF("s", "p", "o", "g", "seq")
        .write.mode(SaveMode.Append).parquet(s"$dir/tombstones")
    if (wild.nonEmpty)
      wild.map { case (s, p, g) => (s, p, g, seq) }
        .toDF("s", "p", "g", "seq")
        .write.mode(SaveMode.Append).parquet(s"$dir/tombstones_spg")
    MutationResult(triplesDeleted = items.size)
  }

  /** Fold deltas + tombstones into a fresh base (run offline/periodic).
    *
    * Crash contract: nothing live is DELETED until the new base is fully
    * installed. The swap stages the old store (base + deltas +
    * tombstones) under `_pre_compact` with cheap renames, then
    * renames the new base in, then drops the staging dir — so a crash at
    * any point leaves either the old store intact (plus `_compact`
    * write garbage) or a complete old copy under `_pre_compact`;
    * [[recoverIfNeeded]] (called by [[load]]) rolls a half-swapped store
    * back to the staged copy. The old delete-then-move order had a
    * window where deltas were gone but the old base still live —
    * a crash there permanently lost every mutation since the last
    * compact. */
  def compact(): Unit = {
    val g = load()
    val tmp = s"$dir/_compact"
    g.triples.repartition(col("p")).sortWithinPartitions("p", "o", "s")
      .write.mode(SaveMode.Overwrite).parquet(s"$tmp/triples")
    g.triples.repartitionByRange(col("s")).sortWithinPartitions("s")
      .write.mode(SaveMode.Overwrite).parquet(s"$tmp/triples_by_s")
    g.iris.write.mode(SaveMode.Overwrite).parquet(s"$tmp/iris")
    g.literals.write.mode(SaveMode.Overwrite).parquet(s"$tmp/literals")
    val staging = s"$dir/_pre_compact"
    StoreIO.mkdirs(spark, staging)
    // _seq is NOT staged/reset: the mutation counter must stay monotonic
    // across compactions — derived artifacts (`semantic_stale`,
    // `literals_semantic_delta`) persist seq-stamped rows that survive
    // the fold, and a restarted counter would mint new mutations that
    // sort BELOW them (a post-compact delete of a pre-compact-repaired
    // subject would lose to the old embedding forever)
    for (sub <- Seq("triples", "triples_by_s", "iris", "literals", "triples_delta",
        "iris_delta", "literals_delta", "tombstones", "tombstones_spg"))
      if (exists(sub)) StoreIO.rename(spark, s"$dir/$sub", s"$staging/$sub")
    // completion marker: only a FULLY staged copy may be treated as
    // authoritative by recovery — a crash inside the loop above leaves
    // some dirs still live, and restoring the partial staging wholesale
    // would first delete them (the data-loss window this marker closes)
    StoreIO.writeString(spark, s"$staging/${Warehouse.StagedMarker}", "1")
    for (sub <- Seq("triples", "triples_by_s", "iris", "literals"))
      StoreIO.rename(spark, s"$tmp/$sub", s"$dir/$sub")
    // everything new is live — only now drop the old copy + write garbage
    StoreIO.delete(spark, staging)
    StoreIO.delete(spark, tmp)
    // fold the per-mutation FTS delta files too: each insert appends
    // small postings/lists/termstats parts (FtsIndex.appendDelta) that
    // nothing else ever merges — compact is the offline O(corpus) fold,
    // so paying one index rebuild alongside it (next context init)
    // bounds the file count; dropping is crash-safe (meta goes first)
    graft.fts.FtsIndex.drop(spark, dir)
    graft.fts.FtsIndex.drop(spark, dir, name = "ftss")
    // fold the semantic delta into its base the same way — a columnar
    // rewrite, NO re-embedding (the expensive step stays O(delta) at
    // repair time); the ANN resets alongside so its superseded cell rows
    // and conservatively-wide radii are rebuilt fresh
    graft.semantic.SemanticMaintenance.foldAtCompact(spark, dir)
  }

  /** Roll back a compact() that crashed mid-swap.
    *
    * Two distinct crash windows, told apart by the staging completion
    * marker ([[Warehouse.StagedMarker]], written only after EVERY live
    * entry was renamed into `_pre_compact`):
    *
    *  - marker present — the staged copy is the complete old store. If
    *    the live base is incomplete the crash hit mid-install: drop the
    *    half-installed new dirs and restore the staging copy wholesale.
    *    (A complete live base means the crash happened after install,
    *    so staging is just leftover garbage.)
    *  - marker absent — the crash hit mid-STAGING: some entries are
    *    still live and were never staged. Deleting anything live here
    *    would destroy the only copy (e.g. `iris` not yet staged while
    *    `triples` already was). Instead, move each staged entry back
    *    beside the still-live ones, deleting nothing. */
  private def recoverIfNeeded(): Unit = {
    val staging = s"$dir/_pre_compact"
    if (!StoreIO.exists(spark, staging)) return
    val stagingComplete = StoreIO.exists(spark, s"$staging/${Warehouse.StagedMarker}")
    if (stagingComplete) {
      val baseComplete = Seq("triples", "triples_by_s", "iris", "literals")
        .forall(exists)
      if (!baseComplete) {
        // drop any half-installed new dirs, then restore the old store.
        // The marker is deleted BEFORE the restore loop: a crash mid-
        // restore leaves some entries live (renamed out of staging) as
        // the only copies, and a rerun still seeing the marker would
        // delete them as "half-installed new dirs" — with the marker
        // gone, the rerun takes the partial-staging path below, which
        // moves entries back beside the live ones deleting nothing.
        for (sub <- Seq("triples", "triples_by_s", "iris", "literals"))
          if (exists(sub)) StoreIO.delete(spark, s"$dir/$sub")
        StoreIO.delete(spark, s"$staging/${Warehouse.StagedMarker}")
        for (name <- StoreIO.list(spark, staging))
          StoreIO.rename(spark, s"$staging/$name", s"$dir/$name")
      }
    } else {
      // partial staging: restore staged entries next to the live ones;
      // never delete — the live dir may hold the only copy of the rest.
      // On stores where rename is copy-then-delete (S3A), an interrupted
      // per-entry rename can leave the SAME entry on both sides, with
      // either side incomplete (mid-copy: staging partial, live whole;
      // mid-delete: staging whole, live partial). The entry's FILE set
      // is identical in both copies, so reconcile per file — move every
      // staged file the live dir lacks; the union is the complete entry.
      for (name <- StoreIO.list(spark, staging)) {
        if (!exists(name))
          StoreIO.rename(spark, s"$staging/$name", s"$dir/$name")
        else
          for (f <- StoreIO.list(spark, s"$staging/$name")
              if !StoreIO.exists(spark, s"$dir/$name/$f"))
            StoreIO.rename(spark, s"$staging/$name/$f", s"$dir/$name/$f")
      }
    }
    StoreIO.delete(spark, staging)
    // compact()'s write dir is garbage in every recovered state
    StoreIO.delete(spark, s"$dir/_compact")
  }
}

object Warehouse {
  /** Name of the staging-complete marker inside `_pre_compact`. */
  val StagedMarker = "_STAGED"

  private def longs(names: String*): StructType =
    StructType(names.map(StructField(_, LongType)))
  private val triples = longs("s", "p", "o", "g")
  private val seqTriples = longs("s", "p", "o", "g", "seq")
  private val dict =
    StructType(Seq(StructField("hash", LongType), StructField("value", StringType)))

  /** The declared schema of every warehouse dir: columns, order and
    * types exactly as Spark infers them from the writers' footers (all
    * nullable, as a parquet read makes them). */
  val schemas: Map[String, StructType] = Map(
    // the base: graft.ingest.Build.write and compact()
    "triples" -> triples,
    "triples_by_s" -> triples,
    "iris" -> dict,
    "literals" -> dict,
    // insert() and the streaming ingest's appends
    "triples_delta" -> seqTriples,
    "iris_delta" -> dict,
    "literals_delta" -> dict,
    // delete(): exact (s,p,o,g) and o-wildcard (s,p,g) markers
    "tombstones" -> seqTriples,
    "tombstones_spg" -> longs("s", "p", "g", "seq"))

  /** Read warehouse dir `sub` of `dir` under its declared schema — no
    * schema-inference job. */
  def read(spark: SparkSession, dir: String, sub: String): DataFrame =
    spark.read.schema(schemas(sub)).parquet(s"$dir/$sub")
}
