package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** Crash-safe GENERATION COMPACTION shared by the at-rest stores whose
  * tables accumulate `batch=<id>` dirs per ingest batch (near-dup
  * shingles/bandkeys, perceptual bands): fold every
  * committed generation into a single `batch=0` per table, bounding
  * file/dir counts on a long ingest line (week 50 of a crawl is
  * thousands of small-file generations; probes pay the listing even
  * when partition-pruned).
  *
  * SINGLE-WRITER, COMMITTED-BATCHES-ONLY contract: call from the
  * ingest lineage itself (a foreachBatch maintenance slot — every
  * generation it can see below the bound is checkpoint-committed and
  * will never replay) or offline with ingest stopped. Folding a
  * generation a crashed trigger later re-appends would DUPLICATE its
  * rows into the fold (which corrupts jaccard-class verifies) — the
  * `maxBatchId` bound plus the checkpoint is what makes that
  * impossible.
  *
  * Three phases: (1) STAGE full folds of every table under
  * `_compacting/` — the store is untouched, a crash leaves stale
  * staging the next run deletes and redoes; (2) COMMIT by the
  * rename-atomic `_compact_swap.json` marker recording exactly which
  * generation dirs the fold covers — staging is now authoritative;
  * (3) SWAP table by table (delete the folded generation dirs, move
  * the staged `batch=0` in), then clear marker + staging. A crash
  * during (3) resumes from the marker: the next compact call finishes
  * the swap idempotently (a table whose staged dir is gone was already
  * swapped), and until then every probe/append entry point fails
  * loudly on the marker ([[open]]) — reading mid-swap could see a
  * half-old/half-new table set. */
private[graft] object StoreMaintenance {

  /** One store table: its name and how to project its fold. Every
    * generation is a plain dir of files. */
  final case class TableSpec(name: String, project: DataFrame => DataFrame)

  private def marker(dir: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(s"$dir/_compact_swap.json")

  private def hadoopFs(spark: SparkSession, dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def metaPath(dir: String): String = s"$dir/_meta.json"

  /** Loud guard for readers that already hold a store's meta (a
    * streaming loop's hoisted read-only state) and re-check per batch. */
  def requireNoCrashedCompaction(spark: SparkSession, dir: String): Unit =
    require(!hadoopFs(spark, dir).exists(marker(dir)),
      s"store at $dir has an unfinished compaction swap — run its " +
        "compact*Store maintenance op to finish it first")

  /** The one way to open an at-rest store: the crashed-compaction guard
    * first (reading mid-swap could see a half-old/half-new table set),
    * then ONE read of `_meta.json`, refused loudly unless its
    * `formatVersion` is exactly the family's current one. Every probe,
    * append and maintenance op of every store goes through here, so a
    * store in another layout is refused on every path — never read
    * half-right by one of them. `installer` names the op that rebuilds
    * the store in the current layout. */
  def open(spark: SparkSession, dir: String, formatVersion: String,
           installer: String): Map[String, String] = {
    requireNoCrashedCompaction(spark, dir)
    val meta = graft.sources.Sources.readJsonSidecarFs(spark, metaPath(dir))
    val found = meta.get("formatVersion")
    require(found.contains(formatVersion),
      s"store at $dir has ${found.fold("no formatVersion")(v => s"formatVersion $v")}" +
        s"; this build reads formatVersion $formatVersion only — " +
        s"reinstall it with $installer")
    meta
  }

  /** A store table read with a pinned schema: no schema-inference job.
    * The `batch=<id>` generation dirs still list as a partition column,
    * which callers project away. */
  def storeTable(spark: SparkSession, dir: String, table: String,
                 cols: (String, DataType)*): DataFrame =
    spark.read.schema(StructType(cols.map { case (n, t) => StructField(n, t) }))
      .parquet(s"$dir/$table")

  /** Land a store's meta — the installer's LAST write (a reader that
    * finds the meta can rely on every table it describes), or a
    * maintenance op's in-place geometry update — tagged with the
    * family's `formatVersion`, then invalidate same-session listings
    * under `dir` (a re-install over a previously-read dir would
    * otherwise serve the pre-install file list and die on vanished
    * files). */
  def publishMeta(spark: SparkSession, dir: String, formatVersion: String,
                  meta: Map[String, String]): Unit = {
    graft.sources.Sources.writeJsonSidecarFs(spark, metaPath(dir),
      meta + ("formatVersion" -> formatVersion))
    spark.catalog.refreshByPath(dir)
  }

  /** Loud guard for every installer that CLEARS the store before its
    * input DataFrame is materialized ([[clearForReinstall]] callers):
    * an input lazily derived from the SAME store directory — the
    * tempting rebuild-in-place pattern — would have the clear delete
    * its source files before the first byte is read, losing the store
    * with no error (Spark file listings are resolved at analysis, read
    * at execution). Walks the analyzed plan's file-source relations and
    * rejects any scan rooted under `dir`; a frozen input
    * (`localCheckpoint`) carries no file relation and passes, which is
    * exactly the documented safe pattern. Paths are fs-qualified so
    * relative/scheme aliases cannot dodge the compare. */
  def requireInputNotFromStore(df: DataFrame, dir: String, op: String): Unit = {
    val fs = hadoopFs(df.sparkSession, dir)
    val qDir = fs.makeQualified(new org.apache.hadoop.fs.Path(dir)).toString
    val offending = df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths.map(p => fs.makeQualified(p).toString)
          case _ => Seq.empty[String]
        }
      // the DataSource V2 shape of the same file scan (parquet taken
      // off spark.sql.sources.useV1SourceList, or any FileTable
      // source) — without this arm the guard silently passes exactly
      // the plans it exists to refuse
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
        r.table match {
          case ft: org.apache.spark.sql.execution.datasources.v2.FileTable =>
            ft.fileIndex.rootPaths.map(p => fs.makeQualified(p).toString)
          case _ => Seq.empty[String]
        }
    }.flatten.filter(r => r == qDir || r.startsWith(qDir + "/"))
    require(offending.isEmpty,
      s"$op clears $dir before writing, but its input still READS from " +
        s"that store (${offending.head}) — the clear would delete the " +
        "source before the plan materializes it. Rebuild side by side " +
        "into a fresh path, or freeze the input (localCheckpoint) first")
  }

  /** Reinstall hygiene for installers whose REBUILD is the documented
    * maintenance path (BM25, eval-gram) or whose appended data is
    * meaningless under fresh fit state (PQ codes under new codebooks,
    * IVF cells/tombstones under new centroids): a base install
    * overwrites only `batch=0`, so installing over a store that had
    * appends would silently mix the fresh base with stale generations
    * and their sidecars — postings/stats double-count, retired suites
    * keep redacting, old-codebook codes ADC against new tables. Clear
    * every mutable subtree and per-batch sidecar first; a crashed
    * compaction's staging/marker is superseded by the reinstall too.
    * (The near-dup family deliberately KEEPS appends on reinstall —
    * its documented resume-an-ingest-line contract — and does not call
    * this.) */
  def clearForReinstall(spark: SparkSession, dir: String,
                        subdirs: Seq[String],
                        sidecarGlobs: Seq[String] = Nil): Unit = {
    val fs = hadoopFs(spark, dir)
    (subdirs :+ "_compacting").foreach { s =>
      val p = new org.apache.hadoop.fs.Path(s"$dir/$s")
      if (fs.exists(p)) fs.delete(p, true)
    }
    sidecarGlobs.foreach { g =>
      val matched = fs.globStatus(new org.apache.hadoop.fs.Path(s"$dir/$g"))
      if (matched != null) matched.foreach(st => fs.delete(st.getPath, false))
    }
    if (fs.exists(marker(dir))) fs.delete(marker(dir), false)
  }

  /** The maintenance entry of every compact*Store: a crashed swap is
    * FINISHED first — and that is the whole call, the fold it belonged
    * to already ran — so nothing refuses a store a re-run can heal;
    * otherwise the store is [[open]]ed and its committed generations
    * are folded with the tables its meta describes. */
  def compactStore(spark: SparkSession, dir: String, formatVersion: String,
                   installer: String, maxBatchId: Long)
                  (tables: Map[String, String] => Seq[TableSpec]): Unit =
    if (hadoopFs(spark, dir).exists(marker(dir))) finish(spark, dir)
    else {
      val meta = open(spark, dir, formatVersion, installer)
      compact(spark, dir, tables(meta), maxBatchId)
    }

  /** Phases 1–3 over a store with no pending swap (see
    * [[compactStore]], the entry point that checks). */
  private[operators] def compact(spark: SparkSession, dir: String,
                                 tables: Seq[TableSpec],
                                 maxBatchId: Long): Unit = {
    val fs = hadoopFs(spark, dir)
    val staging = new org.apache.hadoop.fs.Path(s"$dir/_compacting")
    if (fs.exists(staging)) fs.delete(staging, true) // stage-phase crash
    def foldable(t: String): Seq[(Long, org.apache.hadoop.fs.Path)] = {
      val tp = new org.apache.hadoop.fs.Path(s"$dir/$t")
      if (!fs.exists(tp)) Nil
      else fs.listStatus(tp).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
        .map(s => (s.getPath.getName.stripPrefix("batch=").toLong, s.getPath))
        .filter(_._1 <= maxBatchId)
        .sortBy(_._1)
    }
    val folds = tables.map(t => t.name -> foldable(t.name)).toMap
    // every installed table owns >= 1 committed generation (base install
    // lands batch=0) — a zero-generation table means the caller's
    // TableSpec doesn't match the store on disk; fail with the contract,
    // not an opaque empty-path parquet read in the stage phase
    tables.foreach(t => require(folds(t.name).nonEmpty,
      s"store compaction at $dir: table ${t.name} has no committed " +
        s"batch= generations <= $maxBatchId — TableSpec/store mismatch " +
        "(a base install always lands batch=0)"))
    if (folds.values.map(_.size).max <= 1) return // nothing to fold
    // phase 1: stage. The per-table folds are INDEPENDENT read→write
    // jobs into distinct staging dirs, all strictly BEFORE the commit
    // marker — a crash anywhere in this phase leaves stale staging the
    // next run deletes and redoes, so overlapping them (guide §2.6)
    // changes no crash state, only the wall: one table's commit tail
    // backfills the next's scan.
    graft.core.Par.run(tables.map { t => () =>
      val gens = folds(t.name).map(_._2)
      // basePath: the folded generation dirs are sibling partition
      // dirs — without the table root Spark refuses the multi-root
      // partition inference. The schema is pinned, so the read runs no
      // schema-inference job
      t.project(spark.read.schema(footerSchema(spark, gens))
        .option("basePath", s"$dir/${t.name}").parquet(gens.map(_.toString): _*))
        .write.parquet(s"$dir/_compacting/${t.name}/batch=0")
    }: _*)
    // phase 2: commit — record exactly which generation dirs the fold
    // covers, so the swap's deletes are replayable
    graft.sources.Sources.writeJsonSidecarFs(spark, marker(dir).toString,
      Map("tables" -> tables.map(_.name).mkString(",")) ++
        tables.map(t => s"folded_${t.name}" ->
          folds(t.name).map(_._1).mkString(",")).toMap)
    // phase 3: swap
    finish(spark, dir)
  }

  /** The data schema of the first parquet file in the generation dirs
    * `gens` (names starting `_` or `.` skipped, as Spark's listing
    * skips them): the Spark schema its writer stored in the footer,
    * which is what Spark's inference reads, read here with no Spark
    * job. Every generation of a table is written by Spark with one
    * schema. */
  private def footerSchema(spark: SparkSession,
                           gens: Seq[org.apache.hadoop.fs.Path]): StructType = {
    val fs = hadoopFs(spark, gens.head.toString)
    val file = gens.iterator.flatMap(fs.listStatus(_))
      .find(s => s.isFile && !"_.".contains(s.getPath.getName.head))
      .getOrElse(throw new IllegalStateException(
        s"store compaction: no parquet file under ${gens.mkString(", ")}"))
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(org.apache.parquet.hadoop.util
      .HadoopInputFile.fromStatus(file, spark.sparkContext.hadoopConfiguration))
    val stored = try reader.getFileMetaData.getKeyValueMetaData
      .get("org.apache.spark.sql.parquet.row.metadata") finally reader.close()
    require(stored != null, s"store compaction: ${file.getPath} was not written by Spark")
    DataType.fromJson(stored).asInstanceOf[StructType]
  }

  /** Phase 3, idempotent under re-entry. */
  private def finish(spark: SparkSession, dir: String): Unit = {
    val fs = hadoopFs(spark, dir)
    val m = graft.sources.Sources
      .readJsonSidecarFs(spark, marker(dir).toString)
    m("tables").split(",").toSeq.foreach { t =>
      val staged = new org.apache.hadoop.fs.Path(s"$dir/_compacting/$t/batch=0")
      if (fs.exists(staged)) { // not yet swapped on this entry
        m(s"folded_$t").split(",").filter(_.nonEmpty).foreach { id =>
          val gen = new org.apache.hadoop.fs.Path(s"$dir/$t/batch=$id")
          if (fs.exists(gen)) fs.delete(gen, true)
        }
        val live = new org.apache.hadoop.fs.Path(s"$dir/$t/batch=0")
        require(fs.rename(staged, live),
          s"store compaction: swap of $t failed ($staged -> $live)")
      }
    }
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/_compacting"), true)
    fs.delete(marker(dir), false)
    spark.catalog.refreshByPath(dir)
  }
}
