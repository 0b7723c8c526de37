package graft

import graft.fts.FtsIndex
import graft.ingest.{Build, Quad}
import graft.store.{Graph, Warehouse}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Disk-backed warehouse round trip: build → load → insert (delta) →
  * delete (tombstone) → compact. */
class WarehouseSpec extends SparkSpec {

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("graft-wh").toString + "/wh"

  test("build/write/load round-trips the graph; deltas and tombstones compose") {
    import spark.implicits._
    val dir = freshDir()
    val g0 = Build.graphFromQuads(spark, Fixture.quads.toDF())
    Build.write(g0, dir)
    val wh = new Warehouse(spark, dir)
    val loaded = wh.load()
    assert(loaded.triples.count() === Fixture.quads.size)

    // insert via delta part
    val r1 = wh.insert(Seq(Quad("<http://ex/han>", Fixture.label, "\"Han Solo\"", "")))
    assert(r1.error.isEmpty && r1.triplesInserted === 1)
    assert(wh.load().triples.count() === Fixture.quads.size + 1)
    // duplicate insert refused against the composed view (base ∪ delta)
    val r2 = wh.insert(Seq(Quad("<http://ex/han>", Fixture.label, "\"Han Solo\"", "")))
    assert(r2.error.contains("Triple already exists, skipping insert"))

    // delete via tombstone (o wildcard)
    val r3 = wh.delete(Seq(("<http://ex/han>", Fixture.label, None, "")))
    assert(r3.error.isEmpty)
    assert(wh.load().triples.count() === Fixture.quads.size)
    // the deleted subject no longer decodes from triples
    val h = graft.functions.Hash64.hashString("<http://ex/han>")
    assert(wh.load().triples.filter(col("s") === h).count() === 0)

    // compact folds everything into a fresh base
    wh.compact()
    val compacted = wh.load()
    assert(compacted.triples.count() === Fixture.quads.size)
    assert(compacted.triples.filter(col("s") === h).count() === 0)
    assert(!new java.io.File(dir, "triples_delta").exists())
  }

  test("load() rolls back a compact() that crashed mid-swap") {
    import spark.implicits._
    val dir = freshDir()
    Build.write(Build.graphFromQuads(spark, Fixture.quads.toDF()), dir)
    val wh = new Warehouse(spark, dir)
    val before = wh.load().triples.count()
    // simulate the crash window: the old store is fully staged under
    // _pre_compact but the new base was never installed
    val staging = new java.io.File(dir, "_pre_compact")
    staging.mkdirs()
    for (sub <- Seq("triples", "triples_by_s", "iris", "literals")) {
      val src = new java.io.File(dir, sub)
      if (src.exists()) assert(src.renameTo(new java.io.File(staging, sub)))
    }
    // the live dir now has no base at all — load() must restore it
    val recovered = wh.load()
    assert(recovered.triples.count() === before)
    assert(!staging.exists(), "staging dir should be cleaned up after recovery")
    // a completed swap (staging present AND base complete) just drops staging
    staging.mkdirs()
    assert(wh.load().triples.count() === before)
    assert(!staging.exists())
  }

  test("load() recovers a compact() that crashed mid-STAGING without data loss") {
    import spark.implicits._
    val dir = freshDir()
    Build.write(Build.graphFromQuads(spark, Fixture.quads.toDF()), dir)
    val wh = new Warehouse(spark, dir)
    assert(wh.insert(Seq(Quad("<http://ex/han>", Fixture.label, "\"Han Solo\"", ""))).error.isEmpty)
    val before = wh.load().triples.count()
    // crash INSIDE the staging loop: triples + triples_by_s staged, but
    // iris/literals/deltas still live, and no completion marker written.
    // The old recovery deleted the still-live iris/literals here — the
    // only surviving copy — leaving the warehouse unloadable.
    val staging = new java.io.File(dir, "_pre_compact")
    staging.mkdirs()
    for (sub <- Seq("triples", "triples_by_s")) {
      val src = new java.io.File(dir, sub)
      assert(src.renameTo(new java.io.File(staging, sub)))
    }
    val recovered = wh.load()
    assert(recovered.triples.count() === before,
      "partial staging must restore staged dirs beside the live ones")
    assert(!staging.exists(), "staging dir cleaned up after recovery")
    assert(new java.io.File(dir, "iris").exists() &&
      new java.io.File(dir, "literals").exists(),
      "live dictionaries must never be deleted during partial-staging recovery")
    assert(new java.io.File(dir, "triples_delta").exists(),
      "the un-staged insert delta must survive recovery")
  }

  test("load() with a COMPLETE staged copy restores it over a half-install") {
    import spark.implicits._
    val dir = freshDir()
    Build.write(Build.graphFromQuads(spark, Fixture.quads.toDF()), dir)
    val wh = new Warehouse(spark, dir)
    val before = wh.load().triples.count()
    // crash mid-INSTALL: everything staged (marker written), live base
    // holds only a half-installed new copy (here: just a bogus triples dir)
    val staging = new java.io.File(dir, "_pre_compact")
    staging.mkdirs()
    for (sub <- Seq("triples", "triples_by_s", "iris", "literals")) {
      val src = new java.io.File(dir, sub)
      assert(src.renameTo(new java.io.File(staging, sub)))
    }
    java.nio.file.Files.writeString(
      new java.io.File(staging, Warehouse.StagedMarker).toPath, "1")
    val recovered = wh.load()
    assert(recovered.triples.count() === before)
    assert(!staging.exists(), "staging dir cleaned up after recovery")
    assert(!new java.io.File(dir, Warehouse.StagedMarker).exists(),
      "the marker must not be restored into the live dir")
  }

  test("recovery crashed MID-RESTORE is idempotent: rerun loses nothing") {
    import spark.implicits._
    val dir = freshDir()
    Build.write(Build.graphFromQuads(spark, Fixture.quads.toDF()), dir)
    val wh = new Warehouse(spark, dir)
    val before = wh.load().triples.count()
    // crash mid-install, then a FIRST recovery run crashes mid-restore:
    // it deleted the marker and moved SOME entries (triples) back live,
    // leaving the rest (iris/literals/by_s) still staged — the live
    // triples dir is now the ONLY copy. A rerun must not delete it.
    val staging = new java.io.File(dir, "_pre_compact")
    staging.mkdirs()
    for (sub <- Seq("triples", "triples_by_s", "iris", "literals")) {
      val src = new java.io.File(dir, sub)
      assert(src.renameTo(new java.io.File(staging, sub)))
    }
    assert(new java.io.File(staging, "triples")
      .renameTo(new java.io.File(dir, "triples"))) // first run got this far
    val recovered = wh.load()
    assert(recovered.triples.count() === before)
    assert(!staging.exists(), "staging dir cleaned up after recovery")
  }

  test("delete then re-insert brings the triple back (sequenced tombstones)") {
    import spark.implicits._
    val dir = freshDir()
    Build.write(Build.graphFromQuads(spark, Fixture.quads.toDF()), dir)
    val wh = new Warehouse(spark, dir)
    val han = Quad("<http://ex/han>", Fixture.label, "\"Han Solo\"", "")
    val hanHash = graft.functions.Hash64.hashString("<http://ex/han>")

    // exact delete → re-insert: the tombstone must not suppress the new row
    assert(wh.insert(Seq(han)).error.isEmpty)
    assert(wh.delete(Seq((han.s, han.p, Some(han.o), han.g))).error.isEmpty)
    assert(wh.load().triples.filter(col("s") === hanHash).count() === 0)
    assert(wh.insert(Seq(han)).error.isEmpty,
      "re-insert after delete must not be refused as existing")
    assert(wh.load().triples.filter(col("s") === hanHash).count() === 1)

    // wildcard delete of (s,p,g) must suppress pre-delete objects but not
    // block a LATER insert of a different object on the same (s,p,g)
    assert(wh.delete(Seq((han.s, han.p, None, han.g))).error.isEmpty)
    assert(wh.load().triples.filter(col("s") === hanHash).count() === 0)
    val solo = Quad("<http://ex/han>", Fixture.label, "\"Captain Solo\"", "")
    assert(wh.insert(Seq(solo)).error.isEmpty)
    val vals = wh.load().triples.filter(col("s") === hanHash).count()
    assert(vals === 1, "new object visible, old objects stay tombstoned")

    // compact preserves the final state
    wh.compact()
    assert(wh.load().triples.filter(col("s") === hanHash).count() === 1)
  }

  test("delta dirs mixing legacy (no-seq) and seq-stamped files compose correctly") {
    import spark.implicits._
    import graft.functions.Hash64
    val dir = freshDir()
    Build.write(Build.graphFromQuads(spark, Fixture.quads.toDF()), dir)
    val wh = new Warehouse(spark, dir)
    // a pre-versioning stream append: delta part with NO seq column
    val q = Quad("<http://ex/lando>", Fixture.label, "\"Lando\"", "")
    val h = Hash64.hashString(q.s)
    Seq((h, Hash64.hashString(q.p), Hash64.hashString(q.o), Hash64.hashString(q.g)))
      .toDF("s", "p", "o", "g")
      .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(s"$dir/triples_delta")
    assert(wh.load().triples.filter(col("s") === h).count() === 1)

    // deleting it appends a seq-stamped tombstone; the legacy delta row
    // (whose seq must default to 1, not null or a dropped column) stays
    // suppressed no matter which file's footer the reader samples
    assert(wh.delete(Seq((q.s, q.p, Some(q.o), q.g))).error.isEmpty)
    assert(wh.load().triples.filter(col("s") === h).count() === 0,
      "legacy delta row resurrected from a mixed-schema delta read")

    // a seq-stamped re-insert lands in the SAME dir as the legacy file;
    // its seq must survive the mixed read and outrank the tombstone
    assert(wh.insert(Seq(q)).error.isEmpty)
    assert(wh.load().triples.filter(col("s") === h).count() === 1,
      "seq-stamped re-insert lost its seq in a mixed-schema delta read")
  }

  /** Every parquet file of each subdir of `dir` named in `declared`,
    * checked against the schema its reader declares: Spark's footer
    * inference of the file must equal it field for field (names, order,
    * types, nullability). A file at a time, so one drifting append among
    * many cannot hide behind the others. */
  private def assertFootersMatch(dir: String,
      declared: Iterable[(String, StructType)]): Unit =
    for ((sub, schema) <- declared) {
      val files = Option(new java.io.File(dir, sub).listFiles()).toSeq.flatten
        .filter(_.getName.endsWith(".parquet"))
      assert(files.nonEmpty, s"$sub/ has no parquet files to check")
      for (f <- files)
        assert(spark.read.parquet(f.getPath).schema === schema,
          s"$sub/${f.getName} drifted from its declared schema")
    }

  test("every warehouse and FTS writer leaves the schema its reader declares") {
    import spark.implicits._
    val dir = freshDir()
    Build.write(Build.graphFromQuads(spark, Fixture.quads.toDF()), dir)
    FtsIndex.write(FtsIndex.build(Warehouse.read(spark, dir, "literals")), dir)
    val base = Build.load(spark, dir)
    FtsIndex.write(FtsIndex.build(FtsIndex.buildFtss(base.triples, base.literals),
      "s", "values"), dir, name = "ftss")
    val wh = new Warehouse(spark, dir)
    val han = Quad("<http://ex/han>", Fixture.label, "\"Han Solo\"", "<http://ex/han_g>")
    assert(wh.insert(Seq(han), lits => assert(FtsIndex.appendDelta(spark, dir, lits)))
      .error.isEmpty)
    assert(wh.delete(Seq((han.s, han.p, Some(han.o), han.g))).error.isEmpty)
    val luke = Fixture.quads.head
    assert(wh.delete(Seq((luke.s, luke.p, None, luke.g))).error.isEmpty)
    assertFootersMatch(dir, Warehouse.schemas)
    assertFootersMatch(dir,
      for (name <- Seq("fts", "ftss"); (rel, schema) <- Seq(
          "postings" -> FtsIndex.PostingsSchema,
          "termstats" -> FtsIndex.TermstatsSchema,
          "lists" -> FtsIndex.ListsSchema))
        yield s"${name}_$rel" -> schema)

    wh.compact()
    assertFootersMatch(dir, Warehouse.schemas.filter { case (sub, _) =>
      Seq("triples", "triples_by_s", "iris", "literals").contains(sub) })

    // the streaming ingest's three delta appends, into an empty store
    // and then against the one its first batch made
    val root = java.nio.file.Files.createTempDirectory("graft-wh-stream").toString
    val watch = s"$root/watch"
    new java.io.File(watch).mkdirs()
    val q = graft.streaming.Streaming.streamNt(spark, watch, s"$root/wh", s"$root/ckpt")
    try {
      for ((batch, i) <- Seq(
          "<http://ex/a> <http://ex/p> \"v1\" .\n<http://ex/b> <http://ex/p> <http://ex/a> .\n",
          "<http://ex/c> <http://ex/p> \"v2\" .\n").zipWithIndex) {
        java.nio.file.Files.writeString(java.nio.file.Paths.get(watch, s"b$i.nt"), batch)
        q.processAllAvailable()
      }
    } finally q.stop()
    assertFootersMatch(s"$root/wh", Warehouse.schemas.filter { case (sub, _) =>
      Seq("triples_delta", "iris_delta", "literals_delta").contains(sub) })
  }

  test("random mutation walk matches a naive set model (tombstones, re-inserts, compact)") {
    import spark.implicits._
    import graft.functions.Hash64
    val dir = freshDir()
    Build.write(Build.graphFromQuads(spark,
      Seq(Quad("<urn:w:s0>", "<urn:w:p0>", "\"o0\"", "")).toDF()), dir)
    val wh = new Warehouse(spark, dir)
    // tiny universe so random ops collide: re-insert deleted quads,
    // wildcard-sweep multi-object keys, refuse duplicates/missing
    val ss = Seq("<urn:w:s0>", "<urn:w:s1>")
    val ps = Seq("<urn:w:p0>", "<urn:w:p1>")
    val os = Seq("\"o0\"", "\"o1\"", "\"o2\"")
    val model = scala.collection.mutable.Set(("<urn:w:s0>", "<urn:w:p0>", "\"o0\"", ""))
    val rnd = new scala.util.Random(42)
    def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.length))
    def checkEqual(tag: String): Unit = {
      val got = wh.load().triples.select("s", "p", "o", "g").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      val want = model.map { case (s, p, o, g) =>
        (Hash64.hashString(s), Hash64.hashString(p),
          Hash64.hashString(o), Hash64.hashString(g)) }.toSet
      assert(got === want, s"store diverged from model $tag (${model.size} quads)")
    }
    for (step <- 1 to 40) {
      rnd.nextInt(3) match {
        case 0 => // insert batch of 1-2: refused iff ANY quad already exists
          val batch = Seq.fill(1 + rnd.nextInt(2))(
            Quad(pick(ss), pick(ps), pick(os), "")).distinct
          val dup = batch.exists(q => model.contains((q.s, q.p, q.o, q.g)))
          val r = wh.insert(batch)
          assert(r.error.isDefined === dup, s"step $step insert dup=$dup got ${r.error}")
          if (!dup) batch.foreach(q => model += ((q.s, q.p, q.o, q.g)))
        case 1 => // exact delete: refused iff the quad is missing
          val q = (pick(ss), pick(ps), pick(os), "")
          val missing = !model.contains(q)
          val r = wh.delete(Seq((q._1, q._2, Some(q._3), q._4)))
          assert(r.error.isDefined === missing, s"step $step exact-del got ${r.error}")
          if (!missing) model -= q
        case _ => // wildcard (s,p,g) delete: refused iff nothing matches
          val (s, p) = (pick(ss), pick(ps))
          val victims = model.filter(t => t._1 == s && t._2 == p)
          val r = wh.delete(Seq((s, p, None, "")))
          assert(r.error.isDefined === victims.isEmpty, s"step $step wild-del got ${r.error}")
          victims.foreach(model -= _)
      }
      if (step % 10 == 0) checkEqual(s"at step $step")
      if (step == 20) { wh.compact(); checkEqual("after compact") }
    }
    checkEqual("at walk end")
  }

  test("batch delete validation refuses when any item is missing") {
    import spark.implicits._
    val dir = freshDir()
    Build.write(Build.graphFromQuads(spark, Fixture.quads.toDF()), dir)
    val wh = new Warehouse(spark, dir)
    val present = Fixture.quads.head
    val r = wh.delete(Seq(
      (present.s, present.p, Some(present.o), present.g),
      ("<http://ex/ghost>", Fixture.label, None, "")))
    assert(r.error.contains("Triple does not exist, skipping delete"))
    // nothing was applied
    assert(wh.load().triples.count() === Fixture.quads.size)
  }

  test("persist() sizes the pinned cache to the data, not the file layout") {
    import spark.implicits._
    val dir = freshDir()
    Build.write(Build.graphFromQuads(spark, Fixture.quads.toDF()), dir)
    val loaded = Build.load(spark, dir)
    val pinned = loaded.persist()
    try {
      val cores = spark.sparkContext.defaultParallelism
      // a tiny store pins into FEW partitions (per-task dispatch would
      // dwarf the data at one partition per core), never more than the
      // session's parallelism
      val np = pinned.triples.rdd.getNumPartitions
      assert(np >= 1 && np <= cores, s"pinned triples cache has $np partitions")
      assert(Graph.sizedPartitions(loaded.triples, cores) === np)
      // a wide-but-tiny frame is narrowed, a frame already at its size
      // target is left alone
      assert(pinned.literals.rdd.getNumPartitions <=
        math.max(1, loaded.literals.rdd.getNumPartitions))
      // serving shuffle sizing follows the same scale: small store, few
      // reduce partitions (floor 2)
      val sp = pinned.servingShufflePartitions
      assert(sp >= 2 && sp <= cores, s"servingShufflePartitions = $sp")
      // re-clustering is a layout change only
      assert(pinned.triples.count() === loaded.triples.count())
      assert(pinned.dict.count() === loaded.dict.count())
    } finally { pinned.unpersist(); () }
  }

  test("warehouse parquet layout clusters by predicate for row-group skipping") {
    import spark.implicits._
    val dir = freshDir()
    Build.write(Build.graphFromQuads(spark, Fixture.quads.toDF()), dir)
    // a p = h filter over the sorted layout must reach the parquet scan
    val plan = spark.read.parquet(s"$dir/triples")
      .filter(col("p") === graft.functions.Hash64.hashString(Fixture.label))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(p), EqualTo(p,"),
      s"predicate not pushed to parquet scan:\n$plan")
  }
}
