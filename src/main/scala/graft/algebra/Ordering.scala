package graft.algebra

import graft.functions.Hash64
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Subject ordering (reference `_order_build_sorted_table`,
  * query.py:316-465): resolve a per-subject sort label via
  * label / arbitrary property / label-of-referenced-object, pick the best
  * label by language preference with a min_by hash aggregate, clean it, optionally
  * extract a numeric prefix for natural sort, and emit the total order.
  */
object Ordering {

  val RdfsLabelIri = "<http://www.w3.org/2000/01/rdf-schema#label>"

  /** Language-preference rank (query.py:245-258): listed langs in order,
    * then untagged literals, then everything else. */
  private def langRank(value: Column, langs: Seq[String]): Column = {
    var rank = 1
    var expr: Column = null
    for (lg <- langs) {
      val cond = value.like("%\"@" + lg)
      expr = if (expr == null) when(cond, rank) else expr.when(cond, rank)
      rank += 1
    }
    val untagged = value.like("%\"@%").unary_!
    expr = if (expr == null) when(untagged, rank) else expr.when(untagged, rank)
    expr.otherwise(rank + 1)
  }

  /** Cleaning chain (query.py:261-285), same application order.
    * Reference parity note: the reference's
    * `regexp_replace` runs in DuckDB WITHOUT the 'g' option, i.e.
    * FIRST-match-only — remove_quotes strips one quote (the leading one
    * if present, else a trailing one) and collapse_space collapses only
    * the first whitespace run. Spark's regexp_replace is global, so the
    * first-match behaviors are emulated explicitly; strip_punct's
    * anchored pattern can only match once, so global == first there. */
  private[graft] def cleanExpr(base: Column, clean: CleanOpts, mode: String): Column = {
    var e = base
    if (clean.removeQuotes)
      e = when(e.startsWith("\""), e.substr(lit(2), length(e)))
        .otherwise(when(e.endsWith("\""), e.substr(lit(1), length(e) - 1))
          .otherwise(e))
    if (clean.collapseSpace)
      e = regexp_replace(e, "^(\\S*)\\s+", "$1 ")
    if (clean.stripPunct) e = regexp_replace(e, "^[^0-9A-Za-z]+", "")
    if (clean.trim) e = trim(e)
    if (mode == "lex" && clean.lower) e = lower(e)
    e
  }

  /** Returns (labeled subjects DataFrame with columns
    * s, sort_label [, num_prefix], ordering columns). The DataFrame covers
    * every subject of `sResults` (left join — unlabeled subjects sort per
    * the nulls rule). */
  def sortedSubjects(ctx: EngineContext, sResults: DataFrame, rule: OrderRule): (DataFrame, Seq[Column]) = {
    val triples = ctx.sparkGraph.triples
    val literals = ctx.sparkGraph.literals

    // The literals lookup is a DECODE restricted to literal hashes: with
    // the session decode map in hand it is a broadcast-map expression
    // plus a surface-form test (literal N3 always starts with '"'; IRIs
    // and blank nodes never do — disjoint on that first byte), so
    // the per-query BroadcastExchange of the whole literals dictionary
    // disappears from the plan. The dictionary join stays as the
    // fallback for stores past the broadcast-map bound.
    def literalValue(df: DataFrame, oCol: Column): DataFrame =
      ctx.decodeExpr(oCol) match {
        case Some(e) =>
          // keep only literal surface forms (N3 literals always start
          // with '"') — `!startsWith("<")` would also admit blank-node
          // labels ('_:b1'), which the literals-join fallback excludes,
          // making the sort key path-dependent
          df.withColumn("lbl_val", e)
            .filter(col("lbl_val").isNotNull && col("lbl_val").startsWith("\""))
        case None =>
          df.join(literals.as("L"), col("L.hash") === oCol)
            .withColumn("lbl_val", col("L.value"))
      }

    def bestPerSubject(labelSource: DataFrame): DataFrame = {
      val rawText = regexp_extract(col("lbl_val"), "^\"(.+)\"", 1)
      val labeled = labelSource
        .withColumn("lang_rank", langRank(col("lbl_val"), rule.lang))
        .withColumn("sort_label", cleanExpr(rawText, rule.cleanOrDefault, rule.mode))
      // best label per subject = min by (lang_rank, sort_label): a hash
      // aggregate with map-side combine (struct ordering is lexicographic),
      // where the reference's row_number window would sort every partition.
      // Ties are exact duplicates of the pair, so the pick is identical.
      labeled
        .groupBy(col("s"))
        .agg(min_by(col("sort_label"),
          struct(col("lang_rank"), col("sort_label"))).as("sort_label"))
    }

    val pref: DataFrame = rule.by match {
      case "label" | "property" =>
        val propIri = if (rule.by == "label") RdfsLabelIri
          else rule.prop.getOrElse(
            throw new IllegalArgumentException("order.by='property' requires 'prop' (IRI)."))
        // the cleaned best-label table for one (property, rule) pair is
        // store-constant between mutations and a serving session reorders
        // by the same property on every page — persist it per context
        // (the paths() edge-set precedent), so a page query pays one left
        // join against a pinned frame instead of rebuilding
        // scan→decode→clean→aggregate per query. Restricting to the
        // query's subject set FIRST would be cheaper once, but rebuilt
        // every time; the unrestricted table costs subject-scale memory
        // (MEMORY_AND_DISK spill past that) and amortizes across the
        // session. A mutation releases it with the context's other
        // derived structures.
        ctx.persisted("orderPref:" + rule.by + ":" + propIri + ":" +
          rule.lang.mkString(",") + ":" + rule.cleanOrDefault + ":" + rule.mode) {
          bestPerSubject(
            literalValue(triples.filter(col("p") === Hash64.hashString(propIri)), col("o"))
              .select(col("s"), col("lbl_val")))
        }
      case "object_label" =>
        // via-walk is subject-dependent — restrict to the query's set
        // before walking (the object side can fan out corpus-wide)
        val viaIri = rule.via.getOrElse(
          throw new IllegalArgumentException("order.by='object_label' requires 'via' (IRI)."))
        bestPerSubject(
          literalValue(
            sResults.as("S")
              .join(triples.as("T1"),
                col("T1.s") === col("S.s") && col("T1.p") === Hash64.hashString(viaIri))
              .join(triples.as("T2"),
                col("T2.s") === col("T1.o") && col("T2.p") === Hash64.hashString(RdfsLabelIri)),
            col("T2.o"))
            .select(col("S.s").as("s"), col("lbl_val")))
      case other =>
        throw new IllegalArgumentException(s"Unsupported order.by='$other'")
    }

    // the pref side joins as a SHUFFLE_HASH build: the cached table is
    // already hash-partitioned by s from its groupBy, so the join
    // shuffles only the (small) subject set and builds per-partition
    // hash maps — a broadcast build would re-serialize the whole
    // subject-scale pref table once per query (left-outer pins the
    // stream side, so Spark cannot broadcast the subject side instead)
    def prefJoinSide(p: DataFrame): DataFrame = p.hint("SHUFFLE_HASH")

    val dirCol: Column => Column =
      if (rule.dir == "desc") (c: Column) => c.desc_nulls_last else (c: Column) => c.asc_nulls_last

    if (rule.natural) {
      // numeric-prefix extraction AFTER the subject restriction: the
      // cached pref table covers every labeled subject, the query's set
      // is usually far smaller
      val joined = sResults.as("S")
        .join(prefJoinSide(pref).as("N"), col("N.s") === col("S.s"), "left")
        .select(col("S.s").as("s"), col("N.sort_label").as("sort_label"))
        .withColumn("num_prefix",
          expr("try_cast(nullif(regexp_extract(sort_label, '^(\\\\d+)', 1), '') AS INTEGER)"))
      val orderCols = Seq(
        col("sort_label").isNull.asc,
        col("num_prefix").isNull.asc,
        dirCol(col("num_prefix")),
        dirCol(col("sort_label")),
        col("s").asc)
      (joined, orderCols)
    } else {
      val joined = sResults.as("S")
        .join(prefJoinSide(pref).as("P"), col("P.s") === col("S.s"), "left")
        .select(col("S.s").as("s"), col("P.sort_label").as("sort_label"))
      val nullsCol =
        if (rule.nulls == "first") col("sort_label").isNull.desc
        else col("sort_label").isNull.asc
      val orderCols = Seq(nullsCol, dirCol(col("sort_label")), col("s").asc)
      (joined, orderCols)
    }
  }
}
