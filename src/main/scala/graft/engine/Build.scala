package graft.engine

import java.time.Duration

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

import graft.errors._
import graft.model._
import graft.operators.AsOfJoin
import graft.util.{Durations, Names}

/** Options governing a build — mirrors the reference's `build()`
  * parameter surface (`/root/reference/src/timefence/engine.py:933-1015`).
  */
final case class BuildOptions(
    join: String = "strict", // strict | inclusive
    onMissing: String = "null", // null | skip
    maxLookback: Duration = Duration.ofDays(365),
    flattenColumns: Boolean = false,
    splits: Seq[Split] = Nil,
    output: Option[String] = None,
    strategy: AsOfJoin.Strategy = AsOfJoin.Strategy.Auto,
    /** Run the post-build invariant verification pass (engine.py:1342-1384). */
    verify: Boolean = true,
    /** Eager duplicate (key,ts) detection per feature (engine.py:586-627).
      * One detector query over every checked feature — two jobs per
      * build, whatever the feature count; disable for trusted inputs. */
    checkDuplicates: Boolean = true,
    /** Collect matched/missing per-feature stats (one extra agg job). */
    collectStats: Boolean = true,
    /** Deterministic full sort of the result (reference O1). At cluster
      * scale flip off: a total sort is a range-shuffle you rarely want. */
    sortResult: Boolean = true,
    /** Optional build store: enables feature-level parquet caches for
      * path-backed sources and a build-level cache keyed on content
      * hashes + parameters (reference store.py:113-161). */
    store: Option[graft.store.Store] = None,
    /** Max value columns per union-as-of carry batch. The unioned
      * frame pads every shuffled row to the batch's full column set
      * and the carry window runs one aggregate per column over every
      * row, so batch width multiplies both shuffle bytes and window
      * CPU; this cap bounds that while keeping few-shuffle batching
      * for typical feature counts. */
    maxCarryColumns: Int = 12,
    /** Tuning for Strategy.Auto's hot-key skew probe (see
      * [[AsOfJoin.autoStrategy]]); defaults skip the probe entirely on
      * small feature sides. */
    autoConfig: AsOfJoin.AutoConfig = AsOfJoin.AutoConfig(),
    /** Stage callback `(stage, featureName)` — the Spark analog of the
      * reference's `build(progress=...)` message hook
      * (engine.py:945-958, driven by the rich bar in cli.py:629-668).
      * Stages: `load` / `compute <feature>` / `join <feature>` /
      * `write` / `verify` (featureName is "" for the non-feature
      * stages). `compute` fires as each feature is planned (a store
      * miss writes its feature cache there, and the one duplicate
      * detector for all features runs after the last `compute`);
      * `join` fires at PLAN time (Spark builds one lazy DAG);
      * `write` and `verify` fire immediately before the action that
      * executes the plan, which is where the wall-clock goes. Must be
      * cheap and non-throwing; never invoked on a build-cache hit. */
    progress: (String, String) => Unit = BuildOptions.NoProgress
) {
  if (join != "strict" && join != "inclusive")
    throw Errors.config(s"Invalid join '$join'.", "Use 'strict' or 'inclusive'.")
  if (onMissing != "null" && onMissing != "skip")
    throw Errors.config(s"Invalid on_missing '$onMissing'.", "Use 'null' or 'skip'.")
}

object BuildOptions {
  /** The default no-op progress hook (identity-compared by
    * [[graft.Graft.build]]'s convenience overload). */
  val NoProgress: (String, String) => Unit = (_, _) => ()
}

/** Half-open time split `[start, end)` (engine.py:1386-1403). */
final case class Split(name: String, start: String, end: String)

final case class FeatureStats(
    name: String,
    matched: Long,
    missing: Long,
    violations: Long
)

final case class BuildResult(
    df: DataFrame,
    rows: Long,
    columns: Seq[String],
    features: Seq[FeatureStats],
    auditPassed: Boolean,
    warnings: Seq[String] = Nil,
    durationMs: Long = -1L
) {
  def validate(): BuildResult = {
    if (!auditPassed) {
      val bad = features.filter(_.violations > 0).map(f =>
        s"${f.name}: ${f.violations} violating rows").mkString("; ")
      throw new LeakageError(
        s"Post-build verification failed — temporal invariant violated. $bad")
    }
    this
  }

  /** Human summary, the reference `BuildResult.__str__`
    * (engine.py:82-100). */
  def render: String = {
    val sb = new StringBuilder(s"BuildResult: $rows rows, ${columns.size} columns\n")
    if (durationMs >= 0) sb.append(f"  Time: ${durationMs / 1000.0}%.1fs\n")
    features.foreach { f =>
      val total = f.matched + f.missing
      if (f.missing > 0)
        sb.append(s"  ${f.name}: ${f.matched}/$total matched (${f.missing} missing -> null)\n")
      else sb.append(s"  ${f.name}: ${f.matched}/$total matched\n")
    }
    sb.toString
  }

  /** The join logic actually planned — the Spark analog of the
    * reference's `explain()` returning its generated SQL
    * (engine.py:105-107): Catalyst's formatted physical plan. */
  def explain(): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  /** Notebook-style HTML summary (reference `_repr_html_`,
    * engine.py:109-140). */
  def toHtml: String = {
    val rowsHtml = features.map { f =>
      val total = f.matched + f.missing
      val status = if (f.missing == 0) "OK" else "OK (nulls)"
      s"<tr><td style='color:#2ecc71;font-weight:bold'>$status</td>" +
        s"<td>${f.name}</td><td>${f.matched}/$total</td><td>${f.missing}</td></tr>"
    }.mkString
    val auditStatus = if (auditPassed) "PASSED" else "FAILED"
    val auditColor = if (auditPassed) "#2ecc71" else "#e74c3c"
    s"<div style='font-family:monospace;max-width:700px'>" +
      s"<h3>Graft Build Result</h3>" +
      s"<p>$rows rows, ${columns.size} columns in ${durationMs / 1000.0}s</p>" +
      s"<p>Audit: <span style='color:$auditColor;font-weight:bold'>$auditStatus</span></p>" +
      s"<table style='border-collapse:collapse;width:100%'>" +
      s"<tr style='background:#f5f5f5'><th>Status</th><th>Feature</th><th>Matched</th><th>Missing</th></tr>" +
      s"$rowsHtml</table></div>"
  }
}

/** The point-in-time training-set builder.
  *
  * Spark-first lifecycle (vs the reference's temp-table pipeline,
  * SURVEY §3.1): steps 1-2 are driver-only validation; the label spine
  * and per-feature joins build ONE lazy DataFrame DAG; all per-feature
  * stats and invariant checks collapse into a single aggregation (the
  * reference runs 3 queries per feature). Spark jobs per `progress`
  * stage, as a sorted store build at one shuffle partition runs them:
  *   - `load`, `join`: none (plan time);
  *   - `compute`: one parquet write per feature-cache miss, plus two
  *     for the duplicate detector shared by every feature;
  *   - `verify`: three — the assembled frame cached through its join
  *     shuffle, then the stats aggregate over the cache;
  *   - `write`: two — the sort's shuffle and the parquet write.
  * A 4-feature build that misses every feature cache thus runs
  * 4 + 2 + 3 + 2 = 11 jobs. An unsorted output
  * lets the stats aggregate ride the write as an Observation (no
  * `verify` jobs); more shuffle partitions add AQE map stages and the
  * sort's range-sampling job.
  */
object Build {

  val RowId: String = AsOfJoin.RowIdCol

  /** Stable definition string participating in cache keys. Transform
    * features contribute their explicit `version` (the JVM has no
    * inspect.getsource — SURVEY §7.3). */
  def featureDefinition(f: Feature): String = {
    val mode = f.mode match {
      case ColumnsMode(cols) => s"columns:${cols.toSeq.sorted.mkString(",")}"
      case SqlMode(sql)      => s"sql:$sql"
      case TransformMode(_, v) => s"transform:v$v"
    }
    // The SOURCE SPEC must participate: editing `timestamp:` (or keys /
    // delimiter / the SQL query) in the config changes the computed
    // feature without changing the source file's content hash — without
    // these fields a store would silently serve a stale cached feature
    // computed under the old, point-in-time-DIFFERENT semantics.
    val src = f.source match {
      case s: Source =>
        s"src:${s.name}|k:${s.keys.mkString(",")}|t:${s.timestamp}|" +
          s"fmt:${s.path.map(_ => s.resolvedFormat.toString).getOrElse("df")}|" +
          s"d:${s.delimiter}"
      case q: SqlSource =>
        s"sqlsrc:${q.name}|k:${q.keys.mkString(",")}|t:${q.timestamp}|q:${q.query}"
      case other => s"othersrc:${other.name}|k:${other.keys.mkString(",")}|t:${other.timestamp}"
    }
    s"${f.name}|$mode|$src|${f.embargo.getSeconds}|" +
      s"${f.keyMapping.toSeq.sorted.mkString(",")}|" +
      s"${f.maxStaleness.map(_.getSeconds).getOrElse(-1L)}"
  }

  private def buildCacheKey(store: graft.store.Store, labels: Labels,
      features: Seq[Feature], options: BuildOptions): Option[String] = {
    val sourcePaths = features.map(_.source match {
      case s: Source => s.path
      case _         => None
    })
    for {
      lp <- labels.path
      if sourcePaths.forall(_.isDefined)
    } yield {
      val featKeys = features.zip(sourcePaths).map { case (f, sp) =>
        store.featureCacheKey(featureDefinition(f), store.contentHash(sp.get),
          f.embargo.getSeconds)
      }
      store.buildKey(store.contentHash(lp), featKeys,
        s"${options.join}|${options.onMissing}|${options.maxLookback.getSeconds}|" +
          s"${options.flattenColumns}|${labels.keys.mkString(",")}|${labels.labelTime}|" +
          s"${labels.target.mkString(",")}|" +
          // splits + sortResult change what lands on disk: a build that
          // adds splits must NOT hit the cache of one that didn't (the
          // split files were never written)
          s"${options.splits.map(s => s"${s.name}:${s.start}:${s.end}").mkString(";")}|" +
          // verify participates: an unverified build's manifest records
          // audit_passed from fabricated zero-violation stats — a later
          // build WITH verify=true must not cache-hit it and report
          // auditPassed without any check having run
          s"${options.sortResult}|${options.verify}")
    }
  }

  def apply(
      spark: SparkSession,
      labels: Labels,
      features: Seq[Feature],
      options: BuildOptions = BuildOptions()
  ): BuildResult = {
    val startedAt = System.nanoTime()
    validateFeatures(features, options)

    // ---- build-level cache probe (engine.py:1017-1057) -------------
    val cacheKey = options.store.flatMap(st =>
      buildCacheKey(st, labels, features, options))
    for {
      st <- options.store
      key <- cacheKey
      manifestText <- st.loadManifest(s"build_$key")
      // real JSON parse, not regex plucking: a path containing a
      // quote/backslash is escaped on write and must be UNescaped to
      // compare, and "rows" must not accidentally match "matched_rows"
      manifest <- graft.util.Jsons.parseObject(manifestText)
      out <- options.output
      // Store manifests live under a local .graft/ root, but the
      // DATA paths the probe verifies may be remote: Store.exists /
      // Store.contentHash speak scheme-d URIs via the Hadoop
      // FileSystem API (stat fingerprint — length + modificationTime
      // per file, the reference's own memo signature), so a build
      // whose labels/sources/output live on s3a/hdfs/abfs is cached
      // exactly like a local one.
      if st.exists(out)
      // the manifest must describe THIS output: same path, and the
      // parquet currently on disk must hash to what the build wrote —
      // otherwise (path reused by a different build, file overwritten)
      // the probe would return a foreign dataset stamped with this
      // manifest's audit_passed. On any mismatch, fall through to a
      // fresh build.
      manifestOut <- graft.util.Jsons.at(manifest, "output", "output_path")
        .collect { case s: String => s }
      if manifestOut == out
      manifestHash <- graft.util.Jsons.at(manifest, "output", "output_content_hash")
        .collect { case s: String => s }
      // guarded: the probe is a pure optimization, so a hash failure
      // (path deleted between exists() and here, transient remote-FS
      // error) must fall through to a fresh build, never crash it
      if (try manifestHash == st.contentHash(out)
          catch { case _: Exception => false })
      // every split output must still exist too — a deleted split file
      // would otherwise "succeed" without being regenerated
      if options.splits.forall(s =>
        st.exists(s"${out.stripSuffix(".parquet")}_${s.name}.parquet"))
    } {
      val df = graft.sources.SchemaCache.parquet(spark, out)
      val rows = graft.util.Jsons.at(manifest, "rows")
        .collect { case n: Long => n }.getOrElse(df.count())
      val passed = graft.util.Jsons.at(manifest, "audit_passed").contains(true)
      return BuildResult(df, rows, df.columns.toSeq,
        features.map(f => FeatureStats(f.name, -1, -1, if (passed) 0 else -1)), passed)
    }

    // ---- label spine -----------------------------------------------
    options.progress("load", "")
    val rawLabels = labels.resolve(spark)
    requireColumns("Labels", rawLabels, labels.keys ++ (labels.labelTime +: labels.target))
    validateSplits(options.splits)
    // The rowid is assigned ONCE; every downstream consumer (join,
    // verify, audit-rebuild) shares this numbering. Uniqueness is the
    // only property consumed (SURVEY §7.3) so the non-contiguous but
    // shuffle-free monotonically_increasing_id beats a global
    // ROW_NUMBER() OVER () (a single-partition sort at scale).
    // Whether the spine must be CACHED depends on how many plan
    // branches read it — decided below, after join batching: a build
    // whose features all ride one multi-carry consumes the spine in
    // exactly ONE linear subtree, where the id assignment cannot
    // diverge and materialization would be pure overhead. Two or more
    // branches → cache, so the ids are physically assigned once even
    // for order-unstable label inputs (mirrors Audit.rebuild).
    val spineBase = rawLabels
      .select(labels.keys.map(col) ++ Seq(col(labels.labelTime)) ++
        labels.target.map(col): _*)
      .withColumn(RowId, monotonically_increasing_id())

    // ---- per-feature compute + PIT join ----------------------------
    val sourceCache = scala.collection.mutable.Map.empty[String, DataFrame]

    // feature-level cache: path-backed sources only (content hash needs
    // a file); a hit reloads the materialized parquet, which also
    // truncates the lineage exactly like the reference's temp-table
    // materialization did
    def featureCacheKeyOf(f: Feature): Option[(graft.store.Store, String)] =
      options.store.flatMap { st =>
        f.source match {
          case s: Source if s.path.isDefined =>
            Some((st, st.featureCacheKey(featureDefinition(f),
              st.contentHash(s.path.get), f.embargo.getSeconds)))
          case _ => None
        }
      }

    val featureCacheHit = scala.collection.mutable.Map.empty[String, Boolean]

    def computeOrLoadFeature(f: Feature): ComputedFeature =
      featureCacheKeyOf(f) match {
        case Some((st, key)) =>
          st.loadFeatureCache(spark, key) match {
            case Some(df) =>
              featureCacheHit(f.name) = true
              ComputedFeature(df, "feature_time")
            case None =>
              val computed = computeFeature(spark, f, labels, sourceCache)
              st.saveFeatureCache(computed.df, key)
              ComputedFeature(st.loadFeatureCache(spark, key).get, computed.timeCol)
          }
        case None => computeFeature(spark, f, labels, sourceCache)
      }

    // Merge-compatible features — ColumnsMode on the same source with
    // identical join parameters — share ONE as-of carry pass: the "N
    // features from one wide history table" pattern costs one shuffle
    // instead of N (and no extra assembly joins, since merged features
    // land on the same row). Disabled when a store is configured (the
    // per-feature cache is keyed per feature).
    def mergeKey(f: Feature): Option[Any] = f.mode match {
      case _: ColumnsMode if options.store.isEmpty =>
        Some((f.source.name, f.keyMapping, f.embargo.getSeconds,
          f.maxStaleness.map(_.getSeconds).getOrElse(-1L), f.onDuplicate))
      case _ => None
    }
    val groups: Seq[Seq[Feature]] = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[Seq[Feature]]
      val byKey = scala.collection.mutable.Map.empty[Any, Int]
      features.foreach { f =>
        mergeKey(f) match {
          case Some(k) if byKey.contains(k) =>
            val i = byKey(k); buf(i) = buf(i) :+ f
          case Some(k) =>
            byKey(k) = buf.length; buf += Seq(f)
          case None => buf += Seq(f)
        }
      }
      buf.toSeq
    }

    def sortedCols(f: Feature): Seq[(String, String)] = f.mode match {
      case ColumnsMode(cols) => cols.toSeq.sortBy(_._1)
      case _                 => Nil
    }

    // per-feature output value-column names, in declaration order
    val valueColsOf = scala.collection.mutable.Map.empty[String, Seq[String]]

    def baseSpec(f: Feature, rightKeys: Seq[String], timeCol: String,
        valueCols: Seq[String]) = AsOfJoin.Spec(
      leftKeys = labels.keys,
      rightKeys = rightKeys,
      leftTime = labels.labelTime,
      rightTime = timeCol,
      valueCols = valueCols,
      inclusive = options.join == "inclusive",
      embargo = f.embargo,
      maxLookback = Some(options.maxLookback),
      maxStaleness = f.maxStaleness,
      rightTimeOut = Names.featureTimeCol(f.name))

    // Every group (a single feature, or same-source merged features)
    // first becomes a JoinUnit: its feature frame with value columns
    // already renamed to their namespaced OUTPUT names, plus the
    // carried-time aliases it must emit.
    case class JoinUnit(f0: Feature, df: DataFrame, rightKeys: Seq[String],
        timeCol: String, nsValueCols: Seq[String], timeOuts: Seq[String],
        featNames: Seq[String])

    // units whose duplicate guard is on, in declaration order: checked
    // together by ONE detector query once every unit is planned
    val dupChecks = scala.collection.mutable.ArrayBuffer.empty[DupCheck]

    val units: Seq[JoinUnit] = groups.map {
      case Seq(f) =>
        options.progress("compute", f.name)
        val feat = computeOrLoadFeature(f)
        val rightKeys = labels.keys.map(k => f.keyMapping.getOrElse(k, k))
        requireColumns(s"Feature '${f.name}'", feat.df, rightKeys :+ feat.timeCol)
        checkTimezone(labels, rawLabels, f, feat)
        if (options.checkDuplicates && f.onDuplicate == OnDuplicate.Error)
          dupChecks += DupCheck(f, feat.df, rightKeys, feat.timeCol)
        val valueCols = feat.df.columns.filterNot(c =>
          rightKeys.contains(c) || c == feat.timeCol).toSeq
        valueColsOf(f.name) = valueCols
        val ns = feat.df.select(
          rightKeys.map(col) ++ Seq(col(feat.timeCol)) ++
            valueCols.map(c => col(c).as(Names.namespaced(f.name, c))): _*)
        JoinUnit(f, ns, rightKeys, feat.timeCol,
          valueCols.map(Names.namespaced(f.name, _)),
          Seq(Names.featureTimeCol(f.name)), Seq(f.name))

      case grp =>
        val f0 = grp.head
        grp.foreach(f => options.progress("compute", f.name))
        val src = sourceCache.getOrElseUpdate(f0.source.name, f0.source.resolve(spark))
        val rightKeys = labels.keys.map(k => f0.keyMapping.getOrElse(k, k))
        grp.foreach { f =>
          requireColumns(s"Source '${f.source.name}'", src,
            f.source.keys ++ (f.source.timestamp +: sortedCols(f).map(_._2)))
          valueColsOf(f.name) = sortedCols(f).map(_._1)
        }
        // the keyMapping-translated keys must exist BEFORE the select
        // resolves them, or a mapping typo surfaces as a raw Spark
        // AnalysisException instead of the SchemaError + suggestion the
        // single-feature path produces
        requireColumns(s"Source '${f0.source.name}' (via key_mapping)", src, rightKeys)
        // one combined frame: keys + feature_time + every feature's
        // columns already namespaced (names are unique across features)
        val combined = src.select(
          rightKeys.map(col) ++
            Seq(col(f0.source.timestamp).as("feature_time")) ++
            grp.flatMap(f => sortedCols(f).map { case (out, in) =>
              col(in).as(Names.namespaced(f.name, out))
            }): _*)
        requireColumns(s"Feature group '${grp.map(_.name).mkString("+")}'",
          combined, rightKeys :+ "feature_time")
        checkTimezone(labels, rawLabels, f0, ComputedFeature(combined, "feature_time"))
        if (options.checkDuplicates && f0.onDuplicate == OnDuplicate.Error)
          dupChecks += DupCheck(f0, combined, rightKeys, "feature_time")
        val nsCols = grp.flatMap(f => valueColsOf(f.name).map(Names.namespaced(f.name, _)))
        // each merged feature gets its own {f}__feature_time alias —
        // identical values by construction (same embargo → same row)
        JoinUnit(f0, combined, rightKeys, "feature_time", nsCols,
          grp.map(f => Names.featureTimeCol(f.name)), grp.map(_.name))
    }
    // after every driver-side schema/timezone check, so those errors
    // win over a duplicate found in an earlier feature
    detectDuplicates(dupChecks.toSeq)

    // Units whose join parameters agree — embargo, staleness, and
    // unionable key/time column types — share ONE shuffle + window via
    // unionAsOfMulti, even across DIFFERENT sources: the N-feature
    // build costs one exchange instead of N, and those features skip
    // the rowid re-join at assembly. Segmented keeps the batching too
    // (unionAsOfMultiSegmented); only RowNumber stays per-unit.
    val multiEligible = options.strategy match {
      case AsOfJoin.Strategy.Auto | AsOfJoin.Strategy.UnionAsOf |
          AsOfJoin.Strategy.UnionAsOfSegmented(_) => true
      case _                                      => false
    }
    // Width cap: the unioned frame pads every row to the batch's FULL
    // value-column set (UnsafeRow spends 8 bytes per slot, null or
    // not), and the carry window runs one aggregate per column over
    // every unioned row — so shuffle bytes and window CPU both grow as
    // rows x batch-width. Unbounded batching made a 1M x 50-feature
    // build ~20x slower than 1M x 10 (measured 70-280s vs 4s): 101M
    // rows x 50 padded slots. Greedily packing units into batches of
    // at most maxCarryColumns value columns keeps each shuffle narrow
    // while preserving the few-shuffles win at small feature counts.
    // A single unit wider than the cap (merged same-source group,
    // which pads nothing) stays intact.
    def packByWidth(us: Seq[JoinUnit]): Seq[Seq[JoinUnit]] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[Seq[JoinUnit]]
      var cur = Seq.empty[JoinUnit]
      var width = 0
      us.foreach { u =>
        val w = u.nsValueCols.size
        if (cur.nonEmpty && width + w > options.maxCarryColumns) {
          out += cur; cur = Seq(u); width = w
        } else { cur = cur :+ u; width += w }
      }
      if (cur.nonEmpty) out += cur
      out.toSeq
    }
    val unitBatches: Seq[Seq[JoinUnit]] =
      if (!multiEligible) units.map(Seq(_))
      else units.groupBy(u =>
        (u.f0.embargo, u.f0.maxStaleness,
          u.rightKeys.map(k => u.df.schema(k).dataType),
          u.df.schema(u.timeCol).dataType)).values.toSeq
        .flatMap(packByWidth)
    // Under UnionAsOf, EVERY batch takes the multi path — a batch of
    // one is just unionAsOf that additionally threads the label
    // columns through its shuffle, which lets the head batch skip the
    // assembly join (and a single-batch build skip the spine cache).
    val (multiBatches, singleUnits) =
      if (multiEligible) (unitBatches.sortBy(-_.size), Seq.empty[JoinUnit])
      else (Seq.empty[Seq[JoinUnit]], unitBatches.flatten)

    // spine branch count: the first multi batch reads the full spine;
    // every other batch/unit reads spineNarrow (one branch each)
    val spineBranches =
      (if (multiBatches.nonEmpty) 1 else 0) +
        (multiBatches.drop(1).size + singleUnits.size)
    val spineConsumedOnce = multiBatches.nonEmpty && spineBranches == 1
    // cacheOnce: no-output builds leave this resident (see the release
    // note at the bottom), so a repeated identical build must reuse the
    // live entry instead of re-issuing cache() against the same plan.
    // OWNERSHIP: if the entry was already resident — a previous
    // no-output build of the same config still backs ITS returned
    // frame with it — this build must not unpersist it on the way out
    // (Spark's non-cascading uncache would rebuild/discard the other
    // result's dependent caches).
    val spineWasResident = !spineConsumedOnce &&
      spineBase.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val spine = if (spineConsumedOnce) spineBase
      else graft.util.Caching.cacheOnce(spineBase)
    val spineNarrow = spine
      .select((RowId +: labels.keys :+ labels.labelTime).map(col): _*)

    def joinSingle(u: JoinUnit): DataFrame = {
      u.featNames.foreach(n => options.progress("join", n))
      val spec = baseSpec(u.f0, u.rightKeys, u.timeCol, u.nsValueCols)
        .copy(rightTimeOut = "__unit_ft")
      val j = AsOfJoin.join(spineNarrow, u.df, spec, options.strategy, options.autoConfig)
      j.select(
        col(RowId) +: (u.timeOuts.map(o => col("__unit_ft").as(o)) ++
          u.nsValueCols.map(col)): _*)
    }
    def joinMulti(us: Seq[JoinUnit], labelFrame: DataFrame): DataFrame = {
      us.foreach(_.featNames.foreach(n => options.progress("join", n)))
      val spec = baseSpec(us.head.f0, us.head.rightKeys, us.head.timeCol, Nil)
      val rights = us.map(u => AsOfJoin.MultiRight(
        u.df, u.rightKeys, u.timeCol, u.nsValueCols, u.timeOuts))
      // hot-key escape on the fused path: explicit Segmented keeps its
      // bucket; Auto probes the batch's unioned key histogram (size-
      // gated — small batches skip the probe and pay nothing)
      val segBucket = options.strategy match {
        case AsOfJoin.Strategy.UnionAsOfSegmented(b) => Some(b)
        case AsOfJoin.Strategy.Auto =>
          AsOfJoin.autoStrategyMulti(rights, options.autoConfig) match {
            case AsOfJoin.Strategy.UnionAsOfSegmented(b) => Some(b)
            case _                                       => None
          }
        case _ => None
      }
      segBucket match {
        case Some(b) => AsOfJoin.unionAsOfMultiSegmented(labelFrame, rights, spec, b)
        case None    => AsOfJoin.unionAsOfMulti(labelFrame, rights, spec)
      }
    }

    // ---- assembly (J4) ---------------------------------------------
    // The LARGEST multi batch carries the FULL spine through its union
    // (label columns ride along the one shuffle), so its features need
    // no rowid re-join at all; every other batch/unit left-joins on
    // the rowid as before.
    val assembled = multiBatches match {
      case head +: tail =>
        val first = joinMulti(head, spine)
        (tail.map(us => joinMulti(us, spineNarrow)
          .select(col(RowId) +:
            us.flatMap(u => u.timeOuts.map(col) ++ u.nsValueCols.map(col)): _*)) ++
          singleUnits.map(joinSingle))
          .foldLeft(first) { case (acc, ns) => acc.join(ns, Seq(RowId), "left") }
      case _ =>
        singleUnits.map(joinSingle).foldLeft(spine) { case (acc, ns) =>
          acc.join(ns, Seq(RowId), "left")
        }
    }

    val nsValueCols: Seq[String] = features.flatMap(f =>
      valueColsOf(f.name).map(c => Names.namespaced(f.name, c)))

    val skipped =
      if (options.onMissing == "skip" && nsValueCols.nonEmpty)
        assembled.na.drop("any", nsValueCols)
      else assembled

    // ---- single-pass stats + invariant verification ----------------
    val lt = col(labels.labelTime)
    val needStats = options.collectStats || options.verify || options.splits.nonEmpty
    val statAggs: Seq[Column] = features.flatMap { f =>
      val ft = col(Names.featureTimeCol(f.name))
      val upperRef =
        if (f.embargo.isZero) lt
        else lt - expr(Durations.toSqlInterval(f.embargo))
      val violation =
        if (options.join == "inclusive") ft > upperRef else ft >= upperRef
      Seq(
        count(ft).as(s"__m_${f.safeName}"),
        sum(when(ft.isNotNull && violation, 1L).otherwise(0L))
          .as(s"__x_${f.safeName}")
      )
    }
    val aggCols: Seq[Column] = count(lit(1)).as("__n") +:
      (if (needStats) statAggs ++ Seq(min(lt).as("__lo"), max(lt).as("__hi"))
       else Seq.empty[Column])
    def toTs(v: Any): java.sql.Timestamp = v match {
      case t: java.sql.Timestamp  => t
      case i: java.time.Instant   => java.sql.Timestamp.from(i)
      case d: java.time.LocalDateTime => java.sql.Timestamp.valueOf(d)
      case other => java.sql.Timestamp.valueOf(other.toString.replace("T", " "))
    }
    def decodeStats(m: Map[String, Any])
        : (Long, Seq[FeatureStats], Option[(java.sql.Timestamp, java.sql.Timestamp)]) = {
      def lng(k: String): Long =
        m.get(k).flatMap(Option(_)).map(_.asInstanceOf[Number].longValue).getOrElse(0L)
      val n = lng("__n")
      val st =
        if (needStats) features.map { f =>
          val matched = lng(s"__m_${f.safeName}")
          FeatureStats(f.name, matched, n - matched, lng(s"__x_${f.safeName}"))
        } else features.map(f => FeatureStats(f.name, -1, -1, 0))
      val range = for {
        lo <- m.get("__lo").flatMap(Option(_))
        hi <- m.get("__hi").flatMap(Option(_))
      } yield (toTs(lo), toTs(hi))
      (n, st, range)
    }

    // ---- final projection ------------------------------------------
    val outCols = labels.keys ++ Seq(labels.labelTime) ++ labels.target ++ nsValueCols
    def finishFrame(base: DataFrame): DataFrame = {
      val projected = base.select(outCols.map(col): _*)
      val sorted =
        if (options.sortResult)
          projected.orderBy((labels.keys :+ labels.labelTime).map(col): _*)
        else projected
      if (options.flattenColumns) flatten(sorted)
      else sorted
    }

    // ---- write + stats in ONE pass ---------------------------------
    // With an unsorted output, the stats/invariant aggregation rides
    // the write job as an Observation (CollectMetrics): the assembled
    // frame is computed exactly once, never cached, and the reference's
    // "3 queries per feature" collapse to zero extra jobs. Splits then
    // filter the WRITTEN parquet (label_time predicate pushdown) rather
    // than recomputing the join per split.
    //
    // A SORTED output cannot take this path: a global orderBy samples
    // its child to build range boundaries, so the observed subtree
    // executes twice per action and CollectMetrics double-counts.
    // There the frame is cached (the sampling pass then reads the
    // cache instead of recomputing every join) and aggregated
    // separately — as is the no-output path, whose returned df's
    // lineage must read the materialized rowids anyway.
    def aggViaCache(frame: DataFrame)
        : (Long, Seq[FeatureStats], Option[(java.sql.Timestamp, java.sql.Timestamp)]) = {
      val row = frame.agg(aggCols.head, aggCols.tail: _*).head()
      val m = row.schema.fieldNames.zipWithIndex.map { case (f, i) =>
        f -> (if (row.isNullAt(i)) null else row.get(i))
      }.toMap[String, Any]
      decodeStats(m)
    }
    def writeSplits(out: String): Unit = {
      if (options.splits.isEmpty) return
      // schema recorded at write time — re-open without an inference job
      val written = graft.sources.SchemaCache.parquet(spark, out)
      options.splits.foreach { s =>
        val part = written.filter(
          lt >= lit(s.start).cast("timestamp") && lt < lit(s.end).cast("timestamp"))
        val stem = out.stripSuffix(".parquet")
        part.write.mode("overwrite").parquet(s"${stem}_${s.name}.parquet")
      }
    }
    val (result, total, stats, labelRange) = options.output match {
      case Some(out) if !options.sortResult =>
        val obs = org.apache.spark.sql.Observation()
        val fused = finishFrame(skipped.observe(obs, aggCols.head, aggCols.tail: _*))
        options.progress("write", "")
        fused.write.mode("overwrite").parquet(out)
        graft.sources.SchemaCache.put(out, fused.schema)
        options.progress("verify", "") // the stats/invariant agg rode the write
        val (n, st, range) = decodeStats(obs.get)
        writeSplits(out)
        (fused, n, st, range)
      case Some(out) =>
        val cached = skipped.cache()
        options.progress("verify", "")
        val (n, st, range) = aggViaCache(cached)
        val sorted = finishFrame(cached)
        options.progress("write", "")
        sorted.write.mode("overwrite").parquet(out)
        graft.sources.SchemaCache.put(out, sorted.schema)
        writeSplits(out)
        cached.unpersist()
        (sorted, n, st, range)
      case None =>
        // cacheOnce: this cache backs the returned frame and stays
        // resident past the build, so re-running an identical
        // no-output build (bench reps) re-derives this exact plan —
        // reuse the live entry instead of re-issuing cache()
        val cached = graft.util.Caching.cacheOnce(skipped)
        options.progress("verify", "")
        val (n, st, range) = aggViaCache(cached)
        (finishFrame(cached), n, st, range)
    }

    // split gap / coverage warnings (engine.py:654-673)
    val warnings = splitWarnings(options.splits, labelRange)

    val passed = stats.forall(_.violations == 0)
    warnings.foreach(w => log.warn(w))

    // ---- manifest (full parity with engine.py:1422-1489) -----------
    for { st <- options.store; key <- cacheKey } {
      import graft.util.Jsons
      import graft.util.Jsons.Raw
      val nowMs = System.currentTimeMillis()
      val createdAt = java.time.Instant.ofEpochMilli(nowMs).toString
      val buildId = java.time.format.DateTimeFormatter
        .ofPattern("yyyyMMdd'T'HHmmss'Z'").withZone(java.time.ZoneOffset.UTC)
        .format(java.time.Instant.ofEpochMilli(nowMs))
      def pathSize(dir: String): Long = {
        if (dir.contains("://"))
          return try {
            val hp = new org.apache.hadoop.fs.Path(dir)
            hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
              .getContentSummary(hp).getLength
          } catch { case _: Exception => -1L }
        val p = java.nio.file.Paths.get(dir)
        if (!java.nio.file.Files.exists(p)) -1L
        else {
          import scala.jdk.CollectionConverters._
          val s = java.nio.file.Files.walk(p)
          try s.iterator().asScala
            .filter(java.nio.file.Files.isRegularFile(_))
            .map(java.nio.file.Files.size(_)).sum
          finally s.close()
        }
      }
      val statsByName = stats.map(s => s.name -> s).toMap
      val featuresJson = Raw(features.map { f =>
        val srcHash = f.source match {
          case s: Source => s.path.map(st.contentHash)
          case _         => None
        }
        val fs = statsByName(f.name)
        Jsons.str(f.name) + ":" + Jsons.obj(
          "definition_hash" -> st.hashString(featureDefinition(f)),
          "source_content_hash" -> srcHash,
          "embargo_s" -> f.embargo.getSeconds,
          "matched_rows" -> fs.matched,
          "missing_rows" -> fs.missing,
          "violations" -> fs.violations,
          "output_columns" -> valueColsOf(f.name).map(Names.namespaced(f.name, _)),
          "cached" -> featureCacheHit.getOrElse(f.name, false))
      }.mkString("{", ",", "}"))
      val invariantOp = if (options.join == "strict") "<" else "<="
      st.saveManifest(s"build_$key", Jsons.obj(
        "graft_version" -> graft.Graft.Version,
        "build_id" -> buildId,
        "created_at" -> createdAt,
        "duration_seconds" -> (System.nanoTime() - startedAt) / 1e9,
        "build_key" -> key,
        "rows" -> total,
        "audit_passed" -> passed,
        // audit_passed above is only meaningful when the verification
        // pass actually ran — record which it was
        "verified" -> options.verify,
        "labels" -> Raw(Jsons.obj(
          "path" -> labels.path,
          "content_hash" -> labels.path.map(st.contentHash),
          "row_count" -> total,
          "time_range" -> labelRange.map { case (lo, hi) =>
            Seq(lo.toString, hi.toString) },
          "keys" -> labels.keys,
          "label_time_column" -> labels.labelTime,
          "target_columns" -> labels.target)),
        "features" -> featuresJson,
        "parameters" -> Raw(Jsons.obj(
          "max_lookback" -> Durations.format(options.maxLookback),
          "join" -> options.join,
          "on_missing" -> options.onMissing,
          "flatten_columns" -> options.flattenColumns,
          "sort_result" -> options.sortResult,
          "splits" -> options.splits.map(s => Raw(Jsons.obj(
            "name" -> s.name, "start" -> s.start, "end" -> s.end))))),
        "output" -> Raw(Jsons.obj(
          "output_path" -> options.output,
          "output_content_hash" -> options.output.map(st.contentHash),
          "row_count" -> total,
          "column_count" -> result.columns.size,
          "file_size_bytes" -> options.output.map(pathSize))),
        "audit" -> Raw(Jsons.obj(
          "passed" -> passed,
          "invariant" -> s"feature_time $invariantOp label_time - embargo",
          "rows_checked" -> total)),
        "columns" -> result.columns.toSeq,
        "environment" -> Raw(Jsons.obj(
          "spark_version" -> spark.version,
          "scala_version" -> scala.util.Properties.versionNumberString,
          "os" -> s"${sys.props.getOrElse("os.name", "?")} ${sys.props.getOrElse("os.arch", "")}"))))
    }

    // When an output was written, the returned frame is the RE-READ
    // parquet (the reference's BuildResult points at the written output
    // the same way): lineage-free, nothing was ever cached. Without an
    // output the cache must stay resident — the returned df's
    // rowid-aligned lineage reads it (a recompute would re-derive
    // monotonically_increasing_id per branch).
    val finalDf = options.output match {
      case Some(out) => graft.sources.SchemaCache.parquet(spark, out)
      case None      => result
    }
    // release the spine cache only when the returned frame is the
    // lineage-free parquet re-read: in the no-output case the result's
    // resident cache DEPENDS on the spine plan, and Spark's
    // non-cascading uncache would rebuild that dependent entry —
    // discarding its materialized data, so the caller's first action
    // would re-run the whole build
    if (!spineConsumedOnce && options.output.isDefined && !spineWasResident)
      spine.unpersist()
    BuildResult(finalDf, total, result.columns.toSeq, stats, passed, warnings,
      (System.nanoTime() - startedAt) / 1000000L)
  }

  private lazy val log = org.apache.log4j.Logger.getLogger(getClass)

  /** Warn (never fail) when splits leave gaps between one another or
    * fail to cover the label time range — mirrors the reference's
    * non-fatal split diagnostics. */
  def splitWarnings(splits: Seq[Split],
      labelRange: Option[(java.sql.Timestamp, java.sql.Timestamp)]): Seq[String] = {
    if (splits.isEmpty) return Nil
    val parsed = splits
      .map(s => (s.name, java.sql.Timestamp.valueOf(normalizeTs(s.start)),
        java.sql.Timestamp.valueOf(normalizeTs(s.end))))
      .sortBy(_._2.getTime)
    val gaps = parsed.sliding(2).collect {
      case Seq((n1, _, e1), (n2, s2, _)) if s2.after(e1) =>
        s"gap between split '$n1' (ends $e1) and '$n2' (starts $s2): labels in between land in no split"
    }.toSeq
    val coverage = labelRange.toSeq.flatMap { case (lo, hi) =>
      val before =
        if (lo.before(parsed.head._2))
          Seq(s"labels start at $lo but the first split '${parsed.head._1}' starts at ${parsed.head._2}")
        else Nil
      val after =
        if (!hi.before(parsed.last._3)) // half-open: end is exclusive
          Seq(s"labels end at $hi but the last split '${parsed.last._1}' ends (exclusive) at ${parsed.last._3}")
        else Nil
      before ++ after
    }
    gaps ++ coverage
  }

  // ---- feature computation (3 modes) -------------------------------

  final case class ComputedFeature(df: DataFrame, timeCol: String)

  def computeFeature(
      spark: SparkSession,
      f: Feature,
      labels: Labels,
      sourceCache: scala.collection.mutable.Map[String, DataFrame]
  ): ComputedFeature = {
    val src = sourceCache.getOrElseUpdate(f.source.name, f.source.resolve(spark))
    f.mode match {
      case ColumnsMode(cols) =>
        requireColumns(s"Source '${f.source.name}'", src,
          f.source.keys ++ (f.source.timestamp +: cols.values.toSeq))
        // an output name equal to a key or the time column would
        // project two same-named columns and every later reference
        // would die with an ambiguous-reference AnalysisException
        val reserved = f.source.keys.toSet + "feature_time"
        cols.keys.filter(reserved).foreach(c =>
          throw Errors.config(
            s"Feature '${f.name}' output column '$c' collides with a join key " +
              "or 'feature_time'.",
            "Rename the output column in the columns mapping."))
        val proj = src.select(
          f.source.keys.map(col) ++
            Seq(col(f.source.timestamp).as("feature_time")) ++
            cols.toSeq.sortBy(_._1).map { case (out, in) => col(in).as(out) }: _*)
        ComputedFeature(proj, "feature_time")
      case SqlMode(sql) =>
        val view = s"__src_${f.safeName}"
        src.createOrReplaceTempView(view)
        val out = spark.sql(sql.replace("{source}", view))
        ComputedFeature(out, "feature_time")
      case TransformMode(fn, _) =>
        ComputedFeature(fn(src), "feature_time")
    }
  }

  // ---- validation helpers ------------------------------------------

  private def validateFeatures(features: Seq[Feature], options: BuildOptions): Unit = {
    if (features.isEmpty)
      throw Errors.config("No features given.", "Pass at least one Feature.")
    val dup = features.groupBy(_.name).collect { case (n, fs) if fs.size > 1 => n }
    if (dup.nonEmpty)
      throw Errors.config(s"Duplicate feature names: ${dup.mkString(", ")}.",
        "Feature names must be unique.")
    val safeDup = features.groupBy(_.safeName).collect { case (n, fs) if fs.size > 1 =>
      s"$n <- ${fs.map(_.name).mkString(", ")}" }
    if (safeDup.nonEmpty)
      throw Errors.config(
        s"Feature names collide after sanitization: ${safeDup.mkString("; ")}.",
        "Rename features so sanitized identifiers are distinct.")
    // two distinct SourceLike instances sharing a name would silently
    // collide in the per-name source cache (the reference registers
    // sources by name too, engine.py:1119-1127 — but fails loudly here)
    val nameClash = features.map(_.source).distinct.groupBy(_.name)
      .collect { case (n, ss) if ss.size > 1 => n }
    if (nameClash.nonEmpty)
      throw Errors.config(
        s"Multiple distinct sources share name(s): ${nameClash.mkString(", ")}.",
        "Give each distinct source a unique name (sources are cached per name).")
    features.foreach { f =>
      if (f.embargo.compareTo(options.maxLookback) >= 0)
        throw Errors.config(
          s"Feature '${f.name}': embargo ${Durations.format(f.embargo)} must be < max_lookback ${Durations.format(options.maxLookback)}.",
          "Shrink embargo or grow max_lookback.")
      f.maxStaleness.foreach { st =>
        if (st.compareTo(f.embargo) <= 0)
          throw Errors.config(
            s"Feature '${f.name}': max_staleness ${Durations.format(st)} must be > embargo ${Durations.format(f.embargo)}.",
            "The staleness floor must leave a non-empty availability window.")
      }
    }
  }

  def validateSplits(splits: Seq[Split]): Unit = {
    // names become file paths (<stem>_<name>.parquet): duplicates would
    // silently overwrite each other, separators would nest directories
    val dupNames = splits.groupBy(_.name).collect { case (n, ss) if ss.size > 1 => n }
    if (dupNames.nonEmpty)
      throw Errors.config(s"Duplicate split names: ${dupNames.mkString(", ")}.",
        "Give every split a unique name.")
    splits.filterNot(_.name.matches("[A-Za-z0-9_.-]+")).foreach(s =>
      throw Errors.config(s"Split name '${s.name}' is not filename-safe.",
        "Use letters, digits, '_', '-', '.'"))
    val parsed = splits.map(s => (s, java.sql.Timestamp.valueOf(normalizeTs(s.start)),
      java.sql.Timestamp.valueOf(normalizeTs(s.end))))
    parsed.foreach { case (s, a, b) =>
      if (!a.before(b))
        throw Errors.config(s"Split '${s.name}' start >= end.", "Use start < end.")
    }
    val sorted = parsed.sortBy(_._2.getTime)
    sorted.sliding(2).foreach {
      case Seq((s1, _, e1), (s2, a2, _)) =>
        if (a2.before(e1))
          throw Errors.config(s"Splits '${s1.name}' and '${s2.name}' overlap.",
            "Split ranges must be disjoint.")
      case _ => ()
    }
  }

  private def normalizeTs(s: String): String =
    if (s.contains(" ") || s.contains("T")) s.replace("T", " ") else s + " 00:00:00"

  private def requireColumns(what: String, df: DataFrame, cols: Seq[String]): Unit = {
    val have = df.columns.toSet
    val missing = cols.distinct.filterNot(have)
    if (missing.nonEmpty) {
      val hints = missing.flatMap(m => suggest(m, df.columns.toIndexedSeq).map(s => s"'$m' -> did you mean '$s'?"))
      throw Errors.schema(
        s"$what is missing column(s): ${missing.mkString(", ")}. Available: ${df.columns.mkString(", ")}." +
          (if (hints.nonEmpty) s" ${hints.mkString(" ")}" else ""),
        "Check key/timestamp/column spellings against the table schema.")
    }
  }

  /** Closest-name hint for schema errors (reference errors.py:122-132
    * uses substring matching; we use substring + edit distance). */
  def suggest(name: String, available: Seq[String]): Option[String] = {
    val lower = name.toLowerCase
    val bySubstring = available.find(c =>
      c.toLowerCase.contains(lower) || lower.contains(c.toLowerCase))
    bySubstring.orElse {
      def dist(a: String, b: String): Int = {
        val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
        for (i <- 1 to a.length; j <- 1 to b.length)
          d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
            d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
        d(a.length)(b.length)
      }
      available.map(c => c -> dist(lower, c.toLowerCase)).filter(_._2 <= 3)
        .sortBy(_._2).headOption.map(_._1)
    }
  }

  private def checkTimezone(labels: Labels, rawLabels: DataFrame, f: Feature,
      feat: ComputedFeature): Unit = {
    val lt = rawLabels.schema(labels.labelTime).dataType
    val ft = feat.df.schema(feat.timeCol).dataType
    val mismatch = (lt, ft) match {
      case (TimestampType, TimestampNTZType) => true
      case (TimestampNTZType, TimestampType) => true
      case _                                 => false
    }
    if (mismatch)
      throw new TimezoneMismatchError(
        s"Feature '${f.name}': timestamp timezone-awareness mismatch — labels '${labels.labelTime}' is $lt but feature time is $ft.\n" +
          "  Fix: make both tz-aware (TIMESTAMP) or both naive (TIMESTAMP_NTZ).")
  }

  /** One feature frame whose `(keys, timeCol)` tuples must be unique
    * (engine.py:586-627). */
  private[graft] final case class DupCheck(f: Feature, df: DataFrame, keys: Seq[String],
      timeCol: String)

  /** The duplicate guard for every unit of a build in ONE query: the
    * union of each unit's `(unit index, xxhash64(keys, time))`, grouped
    * on both columns; a group of two or more flags its unit. The
    * flagged indices ride an Observation on a no-op write, so the
    * detector costs two jobs (shuffle-map + result) for any number of
    * features or shuffle partitions, and its driver result is one row.
    * (`limit(1).collect()` would not: `executeTake` scans partitions in
    * growing rounds, one job each.) Equal tuples hash equally, nulls
    * included, just as groupBy groups nulls together, so no duplicate
    * is missed; each flagged unit is then confirmed by the exact
    * [[checkDuplicates]], which rejects a 64-bit hash collision and
    * alone words the error. */
  private[graft] def detectDuplicates(checks: Seq[DupCheck]): Unit = {
    if (checks.isEmpty) return
    val hashed = checks.zipWithIndex.map { case (c, i) =>
      c.df.select(lit(i).as("__di"),
        xxhash64((c.keys :+ c.timeCol).map(col): _*).as("__dh"))
    }.reduce(_ union _)
    val obs = org.apache.spark.sql.Observation()
    hashed.groupBy("__di", "__dh").count().filter(col("count") > 1)
      .observe(obs, collect_set(col("__di")).as("units"))
      .write.format("noop").mode("overwrite").save()
    confirmDuplicates(checks, obs.get("units").asInstanceOf[scala.collection.Seq[Int]].toSet)
  }

  /** Exact check of the `flagged` units, in declaration order: the
    * first one that really holds duplicates raises. */
  private[graft] def confirmDuplicates(checks: Seq[DupCheck], flagged: Set[Int]): Unit =
    checks.indices.filter(flagged).foreach { i =>
      val c = checks(i)
      checkDuplicates(c.f, c.df, c.keys, c.timeCol)
    }

  private def checkDuplicates(f: Feature, df: DataFrame, keys: Seq[String],
      timeCol: String): Unit = {
    val dups = df.groupBy((keys :+ timeCol).map(col): _*).count()
      .filter(col("count") > 1)
    val top = dups.orderBy(col("count").desc).limit(3).collect()
    if (top.nonEmpty) {
      val total = dups.count()
      val examples = top.map(r =>
        keys.indices.map(i => s"${keys(i)}=${r.get(i)}").mkString(",") +
          s" @ ${r.get(keys.size)} ×${r.getLong(keys.size + 1)}").mkString("; ")
      throw new DuplicateRowsError(
        s"Feature '${f.name}': $total duplicate (key, timestamp) group(s), e.g. $examples.\n" +
          "  Fix: deduplicate upstream or set on_duplicate=keep_any.")
    }
  }

  /** Strip `{feature}__` prefixes when the short names are globally
    * unique (engine.py:1281-1304); keep namespaced otherwise.
    */
  def flatten(df: DataFrame): DataFrame = {
    // EVERY output column is shortened at its first "__", exactly like
    // the reference (engine.py:1282-1304) — including label/passthrough
    // columns that happen to contain "__" — and one conflict anywhere
    // disables flattening entirely
    def short(c: String): String =
      if (c.contains("__")) c.split("__", 2)(1) else c
    val all = df.columns.map(short).toSeq
    if (all.size != all.distinct.size) df
    else df.toDF(all: _*)
  }
}
