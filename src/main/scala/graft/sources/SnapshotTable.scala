package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Versioned snapshot table (SURVEY.md §2.D D249) — the Delta/Iceberg-
  * class capability gap a warehouse user hits in week one: atomic
  * commits, snapshot isolation for readers, and time travel, built
  * from parquet data files plus a manifest-per-version commit log.
  * The reference persists models as PLAIN parquet directories
  * (reference: RapidsPCA.scala:218-228 — overwrite-in-place, readers
  * of a mid-write directory see torn state); this extends that story
  * the same way the Avro sink extended `_SUCCESS` discipline.
  *
  * Layout:
  * {{{
  *   <table>/data/c-<commitId>/part-*.parquet   immutable data files
  *   <table>/_manifest/v0000000001.manifest     one file per version
  * }}}
  *
  * A manifest is: line 1 the Spark schema JSON, following lines the
  * table-relative data-file paths of THAT version. Data files are
  * immutable once referenced — an overwrite publishes a manifest
  * listing only the new commit's files, an append publishes the old
  * list plus the new files — so every prior version stays readable
  * (time travel) until [[vacuum]] retires it.
  *
  * Commit protocol (why readers never see torn state):
  *  1. the writer lands data files under `data/c-<commitId>/`, a
  *     directory no manifest references yet — readers cannot see them;
  *  2. the writer then creates `_manifest/v{N+1}.manifest` with
  *     create(overwrite = false): create-if-absent is the atomicity
  *     primitive, so of two racing writers targeting the same version
  *     exactly ONE wins;
  *  3. the loser's data files are orphans (vacuum reclaims them); the
  *     loser RETRIES manifest publication at the next version number —
  *     last-commit-wins for overwrites, both-commits-land for appends
  *     (the retry re-reads the then-latest file list).
  *
  * Scale notes: the manifest holds file PATHS, not data — listing cost
  * is O(files), and readers plan a scan from the explicit file list
  * (no directory listing of `data/`, which at 100 TB holds millions of
  * files across dead commits). Readers pass the manifest's schema
  * explicitly so a read never pays an inference footer pass.
  */
object SnapshotTable {

  private[sources] def conf(spark: SparkSession): Configuration =
    spark.sparkContext.hadoopConfiguration

  private def manifestDir(path: String) = new HPath(path, "_manifest")

  private def manifestPath(path: String, v: Long) =
    new HPath(manifestDir(path), f"v$v%010d.manifest")

  private def versionOf(p: HPath): Option[Long] = {
    val n = p.getName
    if (n.startsWith("v") && n.endsWith(".manifest"))
      n.stripPrefix("v").stripSuffix(".manifest").toLongOption
    else None
  }

  /** The version-hint file (round-14 verdict ask #2 — Delta's
    * `_last_checkpoint` idea): "first latest", maintained best-effort
    * by every publish and by vacuum, so log resolution costs O(1)
    * filesystem calls instead of an O(#commits) directory listing.
    * At one commit per streaming micro-batch a year of history is
    * ~525k manifests — without the hint, every `getOffset` poll and
    * every batch read pays that listing. The hint is ONLY a hint:
    * committed version numbers are CONTIGUOUS by construction
    * (publishes always take latest+1; vacuum retires a prefix), so
    * [[versions]] verifies the hinted endpoints with existence probes
    * — a stale hint costs a few probes, a missing/torn one falls back
    * to the full listing (and repairs the hint). Correctness never
    * depends on the hint file. */
  private def hintPath(path: String) =
    new HPath(manifestDir(path), "_versionhint")

  /** Test hook: how many times version resolution fell back to a full
    * manifest-directory listing — zero on a steady-state hinted table. */
  private[graft] val manifestListings =
    new java.util.concurrent.atomic.AtomicLong(0L)

  private def readHint(fs: FileSystem, path: String): Option[(Long, Long)] =
    try {
      val in = fs.open(hintPath(path))
      val s = try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8) finally in.close()
      s.trim.split(" ") match {
        case Array(f, l) => for {
          first <- f.toLongOption
          latest <- l.toLongOption
          if first >= 1L && latest >= first
        } yield (first, latest)
        case _ => None
      }
    } catch { case _: java.io.IOException => None }

  /** Best-effort: a failed hint write (read-only mount, race) is
    * swallowed — the next reader just pays probes or one listing. The
    * hint is small enough that a torn concurrent read fails parsing
    * and falls back, so plain overwrite-in-place is safe here (unlike
    * manifests, which readers must see whole). */
  private def writeHint(fs: FileSystem, path: String, first: Long,
      latest: Long): Unit =
    try {
      val out = fs.create(hintPath(path), true)
      try out.write(s"$first $latest".getBytes(
        java.nio.charset.StandardCharsets.UTF_8)) finally out.close()
    } catch { case _: java.io.IOException => () }

  /** Committed versions, ascending (empty for a nonexistent table).
    * Resolution order: hint + existence probes (O(1) steady-state;
    * O(delta) after unhinted commits/vacuums, self-repairing), then
    * the full directory listing ([[manifestListings]] counts these). */
  def versions(spark: SparkSession, path: String): Seq[Long] = {
    val dir = manifestDir(path)
    val fs = dir.getFileSystem(conf(spark))
    def slow(): Seq[Long] = {
      manifestListings.incrementAndGet()
      if (!fs.exists(dir)) Seq.empty
      else {
        val vs = fs.listStatus(dir).toSeq
          .flatMap(s => versionOf(s.getPath)).sorted
        for { f <- vs.headOption; l <- vs.lastOption }
          writeHint(fs, path, f, l)
        vs
      }
    }
    readHint(fs, path) match {
      case Some((f0, l0)) =>
        if (!fs.exists(manifestPath(path, l0))) slow() // table replaced?
        else {
          var l = l0 // commits since the hint
          while (fs.exists(manifestPath(path, l + 1))) l += 1
          var f = f0 // vacuums since the hint
          while (f < l && !fs.exists(manifestPath(path, f))) f += 1
          if (f != f0 || l != l0) writeHint(fs, path, f, l)
          (f to l).toSeq
        }
      case None => slow()
    }
  }

  /** Latest committed version, or 0 for an empty/nonexistent table. */
  def latestVersion(spark: SparkSession, path: String): Long =
    versions(spark, path).lastOption.getOrElse(0L)

  /** Per-file column stats: file → (col → (min, max)) as decimal
    * strings (Long.toString / Double.toString — both round-trip). */
  private type FileStats = Map[String, Map[String, (String, String)]]

  /** Per-file physical metadata recorded at commit (D283): byte size
    * from the landing listing (no extra RPC) and row count from the
    * same bounded stats pass — so [[compact]] plans entirely from the
    * manifest instead of one driver `getFileStatus` round-trip per
    * file (the round-13 "What's wrong #3" planning bottleneck).
    * `rows = -1` means unknown (legacy manifests, stats-less commits). */
  private[graft] final case class FileMeta(bytes: Long, rows: Long)

  private[sources] final case class Manifest(schema: StructType, files: Seq[String],
      batchId: Option[Long] = None, stats: FileStats = Map.empty,
      partCols: Seq[String] = Nil, dataChange: Boolean = true,
      sizes: Map[String, FileMeta] = Map.empty,
      changeFiles: Seq[String] = Nil,
      // true = this commit's row-level changes are EXACTLY its change
      // files, even when that list is empty (a merge touching zero
      // rows must not fall back to the legacy additions view)
      cdfComplete: Boolean = false)

  /** Column references by NAME must not re-parse as nested-field paths
    * (a name with a dot) — backtick-quote everywhere a schema name
    * feeds `col(...)`. */
  private def qcol(name: String) =
    org.apache.spark.sql.functions.col(s"`${name.replace("`", "``")}`")

  /** Manifest-line field escaping: column names (any legal Spark
    * identifier, `|`/`=`/`,` included) and stat VALUES (string
    * partition keys since D276) travel inside delimiter-structured
    * `#stats=` lines, so the delimiters, '%', and line breaks are
    * %XX-escaped. Decoding a legacy un-escaped numeric value is the
    * identity ('%' never appears in decimal strings), so pre-escape
    * manifests stay readable. */
  private def esc(s: String): String = {
    val sb = new StringBuilder
    s.foreach {
      case c @ ('%' | '|' | '=' | ',' | '\n' | '\r') =>
        sb.append(f"%%${c.toInt}%02X")
      case c => sb.append(c)
    }
    sb.toString
  }

  private def unesc(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == '%' && i + 2 < s.length) {
        sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
        i += 3
      } else { sb.append(s.charAt(i)); i += 1 }
    }
    sb.toString
  }

  /** One `#stats=` manifest line per file:
    * `#stats=<rel>|<col>=<min>,<max>|...`. The rel path is %XX-escaped
    * too (round-13 advisory: a string partition value containing '|'
    * lands in the `__graft_pv=` path segment and would truncate the
    * parsed key, silently dropping that file's pruning); legacy
    * unescaped paths contain no escapable chars, so [[unesc]] of them
    * is the identity and old manifests parse unchanged. */
  private def statsLine(rel: String, cols: Map[String, (String, String)]) =
    s"#stats=${esc(rel)}" + cols.toSeq.sortBy(_._1)
      .map { case (c, (mn, mx)) => s"|${esc(c)}=${esc(mn)},${esc(mx)}" }
      .mkString

  private def parseStatsLine(l: String): (String, Map[String, (String, String)]) = {
    val parts = l.stripPrefix("#stats=").split("\\|").toSeq
    (unesc(parts.head), parts.tail.flatMap { p =>
      val eq = p.indexOf('=')
      val comma = p.indexOf(',', eq + 1)
      if (eq < 0 || comma < 0) None
      else Some(unesc(p.substring(0, eq)) ->
        (unesc(p.substring(eq + 1, comma)), unesc(p.substring(comma + 1))))
    }.toMap)
  }

  /** One `#file=` line per data file: `#file=<rel>|<bytes>|<rows>` —
    * the physical metadata [[compact]] plans from (D283). */
  private def fileLine(rel: String, fm: FileMeta) =
    s"#file=${esc(rel)}|${fm.bytes}|${fm.rows}"

  private def parseFileLine(l: String): Option[(String, FileMeta)] = {
    val parts = l.stripPrefix("#file=").split("\\|")
    if (parts.length != 3) None
    else for {
      b <- parts(1).toLongOption
      r <- parts(2).toLongOption
    } yield unesc(parts(0)) -> FileMeta(b, r)
  }

  private[sources] def readManifest(fs: FileSystem, path: String, v: Long): Manifest = {
    val in = fs.open(manifestPath(path, v))
    val text = try new String(in.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8) finally in.close()
    val lines = text.split("\n").toSeq.filter(_.nonEmpty)
    // '#'-prefixed lines are commit metadata (the streaming batch tag,
    // per-file column stats); absent in pre-tag manifests, so old
    // tables stay readable
    val (meta, body) = lines.tail.partition(_.startsWith("#"))
    val batch = meta.collectFirst {
      case l if l.startsWith("#batch=") => l.stripPrefix("#batch=").toLong
    }
    val stats: FileStats = meta.filter(_.startsWith("#stats="))
      .map(parseStatsLine).toMap
    // multi-column layouts (D284) join escaped names with ',' (itself
    // escaped inside a name); a legacy single-column line parses as a
    // one-element list
    val partCols = meta.collectFirst {
      case l if l.startsWith("#partcol=") =>
        l.stripPrefix("#partcol=").split(",").toSeq
          .filter(_.nonEmpty).map(unesc)
    }.getOrElse(Nil)
    val sizes = meta.filter(_.startsWith("#file="))
      .flatMap(parseFileLine).toMap
    val changeFiles = meta.filter(_.startsWith("#change="))
      .map(l => unesc(l.stripPrefix("#change=")))
    Manifest(DataType.fromJson(lines.head).asInstanceOf[StructType],
      body, batch, stats, partCols,
      dataChange = !meta.contains("#nodatachange"),
      sizes = sizes, changeFiles = changeFiles,
      cdfComplete = meta.contains("#cdfcommit") || changeFiles.nonEmpty)
  }

  /** Atomic publication; false = lost the race. The body is written
    * COMPLETELY to a writer-unique temp name and only then renamed
    * into place, so a reader (or a writer crash) can never observe a
    * torn or empty manifest — the version either exists whole or not
    * at all. The exists-check + rename is the mutex: on HDFS-like
    * stores rename-to-existing fails outright; on the local FS the
    * residual check-to-rename window is far narrower than the old
    * create-then-write one, and both sides' bodies are complete, so
    * the worst local-FS race outcome is last-writer-wins on ONE
    * version number (exactly the documented overwrite semantics). */
  private def tryPublish(fs: FileSystem, path: String, v: Long,
      m: Manifest): Boolean = {
    val target = manifestPath(path, v)
    if (fs.exists(target)) return false
    val tmp = new HPath(manifestDir(path),
      s".v$v.tmp-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, false)
    try {
      val tag = m.batchId.map(b => s"#batch=$b").toSeq
      val part = if (m.partCols.isEmpty) Seq.empty
        else Seq(s"#partcol=${m.partCols.map(esc).mkString(",")}")
      val change = if (m.dataChange) Seq.empty else Seq("#nodatachange")
      val statLines = m.files.flatMap(f =>
        m.stats.get(f).filter(_.nonEmpty).map(statsLine(f, _)))
      val sizeLines = m.files.flatMap(f => m.sizes.get(f).map(fileLine(f, _)))
      val cdfLines = (if (m.cdfComplete) Seq("#cdfcommit") else Nil) ++
        m.changeFiles.map(f => s"#change=${esc(f)}")
      val body = (m.schema.json +:
        (tag ++ part ++ change ++ statLines ++ sizeLines ++ cdfLines ++
          m.files)).mkString("\n")
      out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } finally out.close()
    if (fs.exists(target) || !fs.rename(tmp, target)) {
      fs.delete(tmp, false)
      false
    } else {
      // advance the O(1)-resolution hint (best-effort; readers verify).
      // A hint must never OVERSTATE the first version (it would hide
      // older versions from time travel), so an unhinted legacy table
      // writes none here — the next listing-path read repairs it with
      // the true endpoints; only the very first commit knows first=1.
      readHint(fs, path) match {
        case Some((f, _)) => writeHint(fs, path, f.min(v), v)
        case None if v == 1L => writeHint(fs, path, 1L, 1L)
        case None => ()
      }
      true
    }
  }

  /** The duplicated-partition-key directory columns: partitioned
    * commits write `data/c-<id>/__graft_pv0=<v>/.../part-*.parquet`
    * (one hive level per layout column; the legacy single-column name
    * `__graft_pv` appears in pre-D284 tables) so every data file holds
    * exactly ONE value combination, but the real columns stay IN the
    * files (the directory keys are write-side routing duplicates), so
    * readers never depend on path inference. */
  private def pvDir(i: Int) = s"__graft_pv$i"

  /** Land one commit's data files under `dirRel`; returns
    * table-relative paths with their byte sizes (captured from the
    * landing listing — no extra RPCs). An empty frame commits zero
    * files (a valid, empty version). With `partitionBy`, files are
    * split so each holds one value per layout column (the
    * structural-pruning invariant D276/D284 reads rely on). */
  private[graft] def landDataFiles(df: DataFrame, path: String,
      dirRel: String, partitionBy: Seq[String] = Nil): Seq[(String, Long)] = {
    val dataDir = new HPath(path, dirRel)
    if (partitionBy.isEmpty)
      df.write.mode("errorifexists").parquet(dataDir.toString)
    else {
      val routed = partitionBy.zipWithIndex.foldLeft(df) {
        case (d, (c, i)) => d.withColumn(pvDir(i), qcol(c))
      }
      routed.write.mode("errorifexists")
        .partitionBy(partitionBy.indices.map(pvDir): _*)
        .parquet(dataDir.toString)
    }
    val fs = dataDir.getFileSystem(conf(df.sparkSession))
    val it = fs.listFiles(dataDir, true)
    val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    val marker = "/" + dirRel.stripPrefix("data/") + "/"
    while (it.hasNext) {
      val s = it.next()
      val p = s.getPath.toUri.getPath
      if (s.getPath.getName.endsWith(".parquet")) {
        val i = p.indexOf(marker)
        require(i >= 0, s"landed file $p escaped commit dir $dirRel")
        buf += (s"$dirRel/${p.substring(i + marker.length)}" -> s.getLen)
      }
    }
    buf.toSeq.sortBy(_._1)
  }

  /** Column types with manifest min/max stats. Numeric atomics record
    * decimal strings; DateType records its ISO `yyyy-MM-dd` string
    * form (timezone-free, and lexicographic order == chronological
    * order, so [[SnapshotStrRange]] pruning is exact); TimestampType
    * records epoch MICROS (a cast-to-string form would depend on the
    * writer's session zone and could MIS-prune under a reader with a
    * different zone — micros are zone-free); TimestampNTZType records
    * its zone-free cast-to-string ISO form (left-aligned fraction
    * digits keep lexicographic == chronological). Time-partitioned
    * facts are THE dominant warehouse layout, so `WHERE d = DATE'…'`
    * must prune from the manifest (round-14 verdict ask #1). */
  private def isStatType(t: DataType): Boolean = t match {
    case org.apache.spark.sql.types.ByteType |
         org.apache.spark.sql.types.ShortType |
         org.apache.spark.sql.types.IntegerType |
         org.apache.spark.sql.types.LongType |
         org.apache.spark.sql.types.FloatType |
         org.apache.spark.sql.types.DoubleType |
         org.apache.spark.sql.types.DateType |
         org.apache.spark.sql.types.TimestampType |
         org.apache.spark.sql.types.TimestampNTZType |
         org.apache.spark.sql.types.StringType => true
    case _ => false
  }

  /** Whether a recorded STRING stat pair is usable for ORDER-based
    * pruning (lexicographic range tests). Spark records min/max in
    * UTF8 binary (code-point) order while the JVM compares strings in
    * UTF-16 code-unit order — the two agree on ASCII, so ordering
    * prunes only engage when both endpoints are ASCII; and endpoints
    * longer than 64 chars are not worth a manifest line (a business
    * key is short; a text column's min/max is page-sized noise).
    * An mn == mx SIGNATURE pair (partition values) is exact-match
    * pruning, needs no ordering, and is always kept. */
  private def strStatUsable(mn: String, mx: String): Boolean =
    mn == mx ||
      (mn.length <= 64 && mx.length <= 64 &&
        mn.forall(_ < 128) && mx.forall(_ < 128))

  private def isAscii(s: String): Boolean = s.forall(_ < 128)

  /** The recorded stat form of one column (see [[isStatType]]):
    * timestamps collapse to epoch micros (monotone, so min/max commute
    * with the mapping); everything else stats its own value, cast to
    * string by the caller. */
  private def statForm(c: org.apache.spark.sql.Column,
      t: DataType): org.apache.spark.sql.Column = t match {
    case org.apache.spark.sql.types.TimestampType =>
      org.apache.spark.sql.functions.unix_micros(c)
    case _ => c
  }

  /** Conservative file-range vs query-range intersection test. For
    * INTEGRAL columns the recorded decimal strings are exact, so the
    * BigDecimal compare is too. For FLOAT/DOUBLE columns the compare
    * runs in double space with the file bounds widened by one ulp
    * each way — the residual filter also compares in double space, so
    * a query bound falling strictly between the stats string's decimal
    * value and the binary extremum can never prune a file whose rows
    * would pass the filter (NaN extrema loosen to ±∞: Spark's max is
    * NaN whenever ANY value is NaN, which says nothing about the
    * rest). Unparseable stats keep the file. */
  private def statsIntersect(mn: String, mx: String, lo: BigDecimal,
      hi: BigDecimal, floating: Boolean): Boolean =
    if (floating) {
      try {
        val mnD = mn.toDouble
        val mxD = mx.toDouble
        val fileLo =
          if (mnD.isNaN) Double.NegativeInfinity else math.nextDown(mnD)
        val fileHi =
          if (mxD.isNaN) Double.PositiveInfinity else math.nextUp(mxD)
        fileHi >= math.nextDown(lo.toDouble) &&
          fileLo <= math.nextUp(hi.toDouble)
      } catch { case _: NumberFormatException => true }
    } else {
      (try Some((BigDecimal(mn), BigDecimal(mx)))
       catch { case _: NumberFormatException => None })
        .forall { case (a, b) => b >= lo && a <= hi }
    }

  /** One bounded job over the just-landed files computing per-file
    * min/max of every stat-typed column — the Delta-style write-side
    * stats pass (one row per landed file, grouped on
    * `input_file_name`; cost is a re-scan of THIS commit's files
    * only, never the table). `forceCols` (the partition column) is
    * included whatever its type — its per-file min == max by the
    * [[landDataFiles]] layout, which is what equality pruning reads.
    * Files are read by EXPLICIT path (not the directory) so the
    * partitioned `__graft_pv=` subdirs never trigger inference. */
  /** Stat types whose parquet FOOTER statistics reproduce the recorded
    * stat form exactly: integral (decimal strings), float/double (Java
    * toString — the same rendering Spark's cast applies), DateType
    * (epoch-day int → ISO string), and StringType (footer binary
    * min/max in unsigned-byte = UTF8 order, the order Spark's
    * min/max aggregate uses; SinksSpec gates footer == scan stats
    * bit-for-bit including >64-char and non-ASCII endpoints).
    * Timestamp/NTZ columns fall back to the scan path: INT96 footers
    * carry no statistics and the NTZ ISO string form is
    * formatter-sensitive. */
  private def footerStatType(t: DataType): Boolean = t match {
    case org.apache.spark.sql.types.ByteType |
         org.apache.spark.sql.types.ShortType |
         org.apache.spark.sql.types.IntegerType |
         org.apache.spark.sql.types.LongType |
         org.apache.spark.sql.types.FloatType |
         org.apache.spark.sql.types.DoubleType |
         org.apache.spark.sql.types.DateType |
         org.apache.spark.sql.types.StringType => true
    case _ => false
  }

  private def unsignedLess(a: Array[Byte], b: Array[Byte]): Boolean = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val x = a(i) & 0xff; val y = b(i) & 0xff
      if (x != y) return x < y
      i += 1
    }
    a.length < b.length
  }

  /** Per-file stats + row counts straight off the landed files'
    * parquet FOOTERS (round-15, guide §6): the scan path re-read every
    * just-written byte as a second Spark job per COMMIT — the dominant
    * fixed cost of the write path at bench scale, and a full extra
    * pass over landed data at 100 TB. Footers already carry exact
    * per-row-group min/max and row counts; this is O(#files) driver
    * metadata reads (what Delta achieves by collecting stats inside
    * the writer). Returns per-column stat STRINGS identical to the
    * scan path's `min/max(statForm).cast("string")` — gated
    * bit-for-bit by SinksSpec. A column whose chunks lack usable
    * statistics records none (prune treats the file as unknowable —
    * conservative, same as the scan path's null min/max). */
  private[graft] def collectStatsFooter(spark: SparkSession, schema: StructType,
      path: String, files: Seq[String], statCols: Seq[String])
      : (FileStats, Map[String, Long]) = {
    val hconf = conf(spark)
    val statsOut = scala.collection.mutable.Map.empty[String,
      Map[String, (String, String)]]
    val counts = scala.collection.mutable.Map.empty[String, Long]
    files.foreach { f =>
      val hp = new HPath(path, f)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(hp, hconf))
      try {
        val blocks = reader.getFooter.getBlocks
        var rows = 0L
        // per column: (min, max) as raw typed values, or None when a
        // chunk had no usable stats / no non-null values yet
        val acc = scala.collection.mutable.Map
          .empty[String, Option[(Any, Any)]]
        val it = blocks.iterator()
        while (it.hasNext) {
          val b = it.next()
          rows += b.getRowCount
          val cit = b.getColumns.iterator()
          while (cit.hasNext) {
            val cc = cit.next()
            val name = cc.getPath.toDotString
            if (statCols.contains(name) && acc.getOrElse(name,
                Some(null)).isDefined) {
              val st = cc.getStatistics
              if (st == null || st.isEmpty)
                acc(name) = None // unknowable: drop the column's stats
              else if (st.hasNonNullValue) {
                val mn = st.genericGetMin; val mx = st.genericGetMax
                acc(name) = acc.get(name).flatten match {
                  case None => Some((mn, mx))
                  case Some((a, b0)) =>
                    Some((if (rawLess(mn, a)) mn else a,
                      if (rawLess(b0, mx)) mx else b0))
                }
              } // all-null chunk: contributes nothing, keeps prior state
            }
          }
        }
        counts(f) = rows
        val cols = statCols.flatMap { c =>
          acc.get(c).flatten.flatMap { case (mn, mx) =>
            val t = schema(c).dataType
            val mns = renderStat(mn, t); val mxs = renderStat(mx, t)
            val isStr = t == org.apache.spark.sql.types.StringType
            if (isStr && !strStatUsable(mns, mxs)) None
            else Some(c -> (mns, mxs))
          }
        }.toMap
        statsOut(f) = cols
      } finally reader.close()
    }
    (statsOut.toMap, counts.toMap)
  }

  /** Raw footer-value ordering per type (ints/longs/doubles natural,
    * binaries unsigned-byte — the parquet and UTF8String order). */
  private def rawLess(a: Any, b: Any): Boolean = (a, b) match {
    case (x: java.lang.Integer, y: java.lang.Integer) => x < y
    case (x: java.lang.Long, y: java.lang.Long) => x < y
    case (x: java.lang.Float, y: java.lang.Float) => x < y
    case (x: java.lang.Double, y: java.lang.Double) => x < y
    case (x: org.apache.parquet.io.api.Binary,
          y: org.apache.parquet.io.api.Binary) =>
      unsignedLess(x.getBytes, y.getBytes)
    case _ => throw new IllegalStateException(
      s"unexpected footer stat types: ${a.getClass} / ${b.getClass}")
  }

  /** Footer value → the exact stat string the scan path records.
    * Zero-valued float/double endpoints normalize to +0.0: the parquet
    * writer records -0.0 as the min whenever zeros are present (spec
    * rule), while Spark's min/max over data without literal -0.0
    * renders "0.0" — the two are prune-equivalent (BigDecimal and
    * double parsing both compare -0.0 == 0.0) and normalizing keeps
    * the recorded strings bit-identical to the scan path. */
  private def renderStat(v: Any, t: DataType): String = v match {
    case f: java.lang.Float if f.floatValue() == 0.0f => "0.0"
    case d: java.lang.Double if d.doubleValue() == 0.0d => "0.0"
    case _ => t match {
      case org.apache.spark.sql.types.DateType =>
        java.time.LocalDate
          .ofEpochDay(v.asInstanceOf[java.lang.Integer].longValue()).toString
      case org.apache.spark.sql.types.StringType =>
        new String(v.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes,
          java.nio.charset.StandardCharsets.UTF_8)
      case _ => v.toString
    }
  }

  private def collectStats(spark: SparkSession, schema: StructType,
      path: String, commitRel: String, files: Seq[String],
      forceCols: Seq[String]): (FileStats, Map[String, Long]) = {
    val statCols = (schema.fields.toSeq
      .filter(f => isStatType(f.dataType)).map(_.name) ++ forceCols)
      .distinct.filter(schema.fieldNames.contains)
    if (files.isEmpty) return (Map.empty, Map.empty)
    // footer fast path whenever every stat column's footer statistics
    // reproduce the recorded form exactly (see footerStatType)
    if (statCols.forall(c => footerStatType(schema(c).dataType)))
      collectStatsFooter(spark, schema, path, files, statCols)
    else
      collectStatsScan(spark, schema, path, commitRel, files, statCols)
  }

  /** The original full-read stats pass — kept for stat columns whose
    * footer statistics cannot reproduce the recorded form (timestamp
    * variants), and as the reference side of SinksSpec's footer ==
    * scan bit-equality gate. */
  private[graft] def collectStatsScan(spark: SparkSession,
      schema: StructType, path: String, commitRel: String,
      files: Seq[String], statCols: Seq[String])
      : (FileStats, Map[String, Long]) = {
    import org.apache.spark.sql.functions.{count, input_file_name, lit, max, min}
    // per-file row counts ride the same bounded pass (D283: compact
    // and observability read them off the manifest)
    val aggs = count(lit(1)).as("rc") +:
      statCols.zipWithIndex.flatMap { case (c, i) =>
        val form = statForm(qcol(c), schema(c).dataType)
        Seq(min(form).cast("string").as(s"mn_$i"),
          max(form).cast("string").as(s"mx_$i")) }
    val marker = "/" + commitRel.stripPrefix("data/") + "/"
    val rows = spark.read.schema(schema)
      .parquet(files.map(f => new HPath(path, f).toString): _*)
      .groupBy(input_file_name().as("f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
    val keyed = rows.map { r =>
      // key by the path suffix below the commit dir (partitioned
      // commits may reuse a part file name across value dirs); the
      // URI getPath decodes the %-encoding input_file_name applies
      val p = new java.net.URI(r.getString(0)).getPath
      val i = p.indexOf(marker)
      require(i >= 0, s"stats row for $p outside commit $commitRel")
      (s"$commitRel/${p.substring(i + marker.length)}", r)
    }
    val stats = keyed.map { case (f, r) =>
      val cols = statCols.indices.flatMap { j =>
        val mn = r.getString(2 + 2 * j)
        val mx = r.getString(3 + 2 * j)
        val isStr = schema(statCols(j)).dataType ==
          org.apache.spark.sql.types.StringType
        if (mn == null || mx == null) None
        else if (isStr && !strStatUsable(mn, mx)) None
        else Some(statCols(j) -> (mn, mx))
      }.toMap
      f -> cols
    }.toMap
    val counts = keyed.map { case (f, r) => f -> r.getLong(1) }.toMap
    (stats, counts)
  }

  /** Commit `df` as the table's next version. `overwrite = true`
    * replaces the visible contents; `false` appends to them. Returns
    * the committed version number. Readers concurrent with this call
    * see either the previous version or the new one, never a mix.
    *
    * Batch-tag semantics: an untagged APPEND (or merge) coexists with
    * a maintaining stream, so it carries the stream's replay tag
    * forward; an untagged full OVERWRITE REPURPOSES the table (its
    * contents no longer derive from the stream), so it resets the tag
    * — a replacement stream with a fresh checkpoint starts clean. */
  def writeSnapshot(df: DataFrame, path: String,
      overwrite: Boolean = true): Long =
    writeTagged(df, path, overwrite, batchId = None,
      carryTag = !overwrite)

  /** Schema-evolution union: the table's column order first, the
    * frame's NEW columns appended. Same-name columns must agree on
    * type; a column either side might not populate (new column — old
    * files lack it; dropped-from-frame column — new files lack it)
    * becomes nullable, which is exactly how the parquet reader fills
    * the holes. */
  private def unionSchema(table: StructType, frame: StructType): StructType = {
    frame.fields.foreach { f =>
      table.fields.find(_.name == f.name).foreach { tf =>
        require(tf.dataType == f.dataType,
          s"schema evolution type conflict on '${f.name}': " +
            s"table has ${tf.dataType}, frame has ${f.dataType}")
      }
    }
    val kept = table.fields.map { tf =>
      frame.fields.find(_.name == tf.name) match {
        case Some(f) => tf.copy(nullable = tf.nullable || f.nullable)
        case None => tf.copy(nullable = true)
      }
    }
    val extra = frame.fields
      .filterNot(f => table.fieldNames.contains(f.name))
      .map(_.copy(nullable = true))
    StructType(kept ++ extra)
  }

  private def writeTagged(df: DataFrame, path: String, overwrite: Boolean,
      batchId: Option[Long], evolve: Boolean = false,
      carryTag: Boolean = true, partitionBy: Seq[String] = Nil,
      changeFiles: Seq[String] = Nil, cdfComplete: Boolean = false): Long = {
    val spark = df.sparkSession
    val fs = new HPath(path).getFileSystem(conf(spark))
    fs.mkdirs(manifestDir(path))
    // only commits that FOLD IN prior state (appends/evolution) or
    // carry its tag open the prior manifest — a plain overwrite stays
    // immune to concurrent vacuum retiring that manifest
    val needsPrior = !overwrite || carryTag
    // the commit's partition layout: explicit beats inherited; a plain
    // (tag-resetting) overwrite REPURPOSES the table and resets it,
    // like the batch tag. Resolved best-effort before landing — on the
    // rare race where a concurrent commit changes it, the landed files
    // are merely less prunable, never wrong (pruning is stats-driven
    // and conservative).
    val partCols: Seq[String] =
      if (partitionBy.nonEmpty) partitionBy
      else if (!needsPrior) Nil
      else {
        val l = latestVersion(spark, path)
        if (l == 0) Nil
        else try readManifest(fs, path, l).partCols
        catch { case _: java.io.FileNotFoundException => Nil }
      }
    val landPart = partCols.filter(df.schema.fieldNames.contains)
    val commitId = java.util.UUID.randomUUID().toString
    val landed = landDataFiles(df, path, s"data/c-$commitId", landPart)
    val newFiles = landed.map(_._1)
    val (newStats, newRows) = collectStats(spark, df.schema, path,
      s"data/c-$commitId", newFiles, forceCols = landPart)
    val newSizes = landed.map { case (f, b) =>
      f -> FileMeta(b, newRows.getOrElse(f, -1L)) }.toMap
    // publish loop: create-if-absent is the mutex; on a lost race,
    // re-resolve the latest version (appends must fold in the winner's
    // files and stats) and retry at the next number
    var committed = -1L
    while (committed < 0) {
      val latest = latestVersion(spark, path)
      val prior =
        if (latest == 0 || !needsPrior) None
        else
          // a concurrent vacuum can retire `latest` between the listing
          // and this read — treat it as a lost race and re-resolve
          try Some(readManifest(fs, path, latest))
          catch { case _: java.io.FileNotFoundException => None }
      if (latest == 0 || !needsPrior || prior.isDefined) {
        val (schema, base, baseStats, baseSizes) =
          if (overwrite || latest == 0)
            (df.schema, Seq.empty[String], Map.empty: FileStats,
              Map.empty[String, FileMeta])
          else if (evolve)
            (unionSchema(prior.get.schema, df.schema),
              prior.get.files, prior.get.stats, prior.get.sizes)
          else {
            val m = prior.get
            // names + types must line up; nullability may differ (a
            // parquet read-back is nullable even when the writing frame
            // was not — the merge() tolerance, applied here too); the
            // TABLE's recorded schema stays authoritative
            require(m.schema.map(f => (f.name, f.dataType)) ==
                df.schema.map(f => (f.name, f.dataType)),
              s"append schema mismatch: table has ${m.schema}, " +
                s"frame has ${df.schema}")
            (m.schema, m.files, m.stats, m.sizes)
          }
        // carry the max seen batch tag forward through untagged
        // APPENDS/MERGES (an operator write between a tagged commit and
        // its foreachBatch retry must not blind the replay guard);
        // untagged OVERWRITES repurpose the table and reset it
        val tag =
          if (carryTag) (batchId.toSeq ++ prior.flatMap(_.batchId)).maxOption
          else batchId
        val mPart =
          if (partitionBy.nonEmpty) partitionBy
          else if (needsPrior) prior.map(_.partCols).getOrElse(Nil)
          else Nil
        if (tryPublish(fs, path, latest + 1,
            Manifest(schema, base ++ newFiles, tag,
              baseStats ++ newStats, mPart,
              sizes = baseSizes ++ newSizes, changeFiles = changeFiles,
              cdfComplete = cdfComplete || changeFiles.nonEmpty)))
          committed = latest + 1
      }
    }
    committed
  }

  def appendSnapshot(df: DataFrame, path: String): Long =
    writeSnapshot(df, path, overwrite = false)

  /** D270: schema-evolving append — commit `df` whose schema may ADD
    * columns to the table (recorded schema becomes the union; old
    * files read the new columns as null) or OMIT existing ones (new
    * files read them as null). Same-name type conflicts are rejected
    * before anything commits. This is the Delta `mergeSchema` move:
    * at 100 TB a new feature column must not force a table rewrite —
    * the manifest's recorded schema evolves, the immutable data files
    * do not. */
  def appendEvolve(df: DataFrame, path: String): Long =
    writeTagged(df, path, overwrite = false, batchId = None, evolve = true)

  /** D276: partitioned snapshot writes — commit `df` laid out so every
    * data file holds exactly ONE value of `partitionCol` (hive-style
    * `__graft_pv=` routing dirs inside the commit dir; the real column
    * stays in the files). The manifest records the partition column
    * and, via the forced per-file stats, each file's single value —
    * so [[readSnapshotWhere]] prunes STRUCTURALLY from the manifest
    * alone, the dominant warehouse layout for time-partitioned facts
    * at 100 TB. Appends without an explicit partition column inherit
    * the table's ([[writeTagged]]); a plain [[writeSnapshot]]
    * overwrite resets it, like the batch tag. Works for any column
    * type (dates and strings included — partition values are recorded
    * as escaped strings, not numeric stats). */
  def writeSnapshotPartitioned(df: DataFrame, path: String,
      partitionCol: String, overwrite: Boolean = true): Long =
    writeSnapshotPartitionedMulti(df, path, Seq(partitionCol), overwrite)

  /** D284: multi-column partitioned writes — hive-style nested
    * `__graft_pv0=/__graft_pv1=/…` routing dirs, so every data file
    * holds exactly one COMBINATION of the layout columns and each
    * column prunes independently from its forced per-file stats (the
    * classic (source, date) or (region, hour) warehouse layout). */
  def writeSnapshotPartitionedMulti(df: DataFrame, path: String,
      partitionCols: Seq[String], overwrite: Boolean = true): Long = {
    require(partitionCols.nonEmpty, "need at least one partition column")
    partitionCols.foreach(c =>
      require(df.schema.fieldNames.contains(c),
        s"no partition column $c in ${df.schema.fieldNames.mkString(", ")}"))
    writeTagged(df, path, overwrite, batchId = None,
      carryTag = !overwrite, partitionBy = partitionCols)
  }

  /** A manifest-prunable predicate (D285): what a warehouse WHERE
    * clause pushes into scan planning. Values are Spark string forms
    * (`CAST(col AS STRING)`) for Eq/In; Range compares numerically.
    * Pruning is always conservative (no stats / mixed stats → keep)
    * and the exact filter re-applies on top, so a filtered read is
    * IDENTICAL to filtering [[readSnapshot]] — the stats only delete
    * I/O. */
  sealed trait SnapshotPredicate { def column: String }
  final case class SnapshotEquals(column: String, value: String)
      extends SnapshotPredicate
  final case class SnapshotIn(column: String, values: Set[String])
      extends SnapshotPredicate
  final case class SnapshotRange(column: String, lo: BigDecimal,
      hi: BigDecimal) extends SnapshotPredicate
  /** Lexicographic range over the recorded stat STRINGS — exact for
    * value forms whose string order equals value order: ISO dates
    * (`yyyy-MM-dd`), zone-free ISO timestamps with left-aligned
    * fractions, and fixed-width zero-padded keys. The residual filter
    * compares `CAST(col AS STRING)` the same way, so results stay
    * identical to an unpruned read whatever the column type. */
  final case class SnapshotStrRange(column: String, lo: String,
      hi: String) extends SnapshotPredicate

  /** Conjunctive manifest pruning: keep a file only if EVERY
    * predicate's recorded stats admit it. Equality/IN prune on the
    * partition-style min==max signature; Range prunes on interval
    * intersection ([[statsIntersect]] — exact for integral stats,
    * ulp-widened for floating). */
  private[sources] def fileAdmitted(m: Manifest, f: String,
      preds: Seq[SnapshotPredicate]): Boolean = {
    // stat-string lexicographic order equals VALUE order only for
    // these types (ISO date / zone-free NTZ forms; strings when all
    // compared endpoints are ASCII — UTF8 vs UTF-16 order diverges
    // past it). Numeric stats are decimal strings ("9" > "10"
    // lexicographically) and must never order-prune as strings.
    def lexSafe(c: String, qs: Iterable[String]): Boolean =
      m.schema.fields.find(_.name == c).map(_.dataType).exists {
        case org.apache.spark.sql.types.DateType |
             org.apache.spark.sql.types.TimestampNTZType => true
        case org.apache.spark.sql.types.StringType => qs.forall(isAscii)
        case _ => false
      }
    preds.forall { pred =>
      m.stats.get(f).flatMap(_.get(pred.column)) match {
        case None => true // no stats: conservative keep
        case Some((mn, mx)) => pred match {
          // mn == mx is the exact-match partition signature (no
          // ordering involved); real [mn, mx] intervals also prune
          // equality/IN where the string order is value order
          case SnapshotEquals(c, v) =>
            if (mn == mx) mn == v
            else !lexSafe(c, Seq(mn, mx, v)) || (v >= mn && v <= mx)
          case SnapshotIn(c, vs) =>
            if (mn == mx) vs.contains(mn)
            else !lexSafe(c, vs ++ Seq(mn, mx)) ||
              vs.exists(v => v >= mn && v <= mx)
          // lexicographic interval intersection; strictness of the
          // original comparison is dropped (boundary files survive,
          // the residual filter decides their rows)
          case SnapshotStrRange(c, lo, hi) =>
            !lexSafe(c, Seq(mn, mx, lo, hi)) || (mx >= lo && mn <= hi)
          case SnapshotRange(c, lo, hi) =>
            val floating = m.schema.fields.find(_.name == c)
              .map(_.dataType).exists {
                case org.apache.spark.sql.types.FloatType |
                     org.apache.spark.sql.types.DoubleType => true
                case _ => false
              }
            statsIntersect(mn, mx, lo, hi, floating)
        }
      }
    }
  }

  private[graft] def prunedFileList(spark: SparkSession, path: String,
      preds: Seq[SnapshotPredicate], version: Long): Seq[String] = {
    val fs = new HPath(path).getFileSystem(conf(spark))
    val m = readManifest(fs, path, version)
    m.files.filter(f => fileAdmitted(m, f, preds))
  }

  /** D285: generalized pruned read — plan only the data files whose
    * manifest stats can satisfy EVERY predicate (equality, IN-set,
    * range — on any column, partition layout or plain data column:
    * partition values are just forced min==max stats, so structural
    * and stats pruning compose in one rule), then re-apply the exact
    * filters so the result is IDENTICAL to filtering [[readSnapshot]].
    * Multi-column layouts prune multiplicatively: a (source, date)
    * layout with both predicates keeps ~1/(|sources|·|dates|) of the
    * files, decided entirely from the manifest — zero footer reads. */
  def readSnapshotFiltered(spark: SparkSession, path: String,
      preds: Seq[SnapshotPredicate], version: Long = -1L): DataFrame = {
    val vs = versions(spark, path)
    require(vs.nonEmpty, s"no committed versions under $path")
    val v = if (version < 0) vs.last else version
    require(vs.contains(v), s"version $v not in committed set $vs")
    val fs = new HPath(path).getFileSystem(conf(spark))
    val m = readManifest(fs, path, v)
    preds.foreach(p => require(m.schema.fieldNames.contains(p.column),
      s"no column ${p.column} in ${m.schema.fieldNames.mkString(", ")}"))
    val files = m.files.filter(f => fileAdmitted(m, f, preds))
    val base =
      if (files.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], m.schema)
      else spark.read.schema(m.schema)
        .parquet(files.map(f => new HPath(path, f).toString): _*)
    preds.foldLeft(base)((df, p) => df.filter(residualFilter(m.schema, p)))
  }

  /** Inclusive-bound clamps for timestamp-range residuals: the pruning
    * sentinels (±1e6000) and any fractional Scala-API bound collapse
    * to the nearest micros instant INSIDE the range. */
  private def clampLoMicros(b: BigDecimal): Long =
    if (b >= BigDecimal(Long.MaxValue)) Long.MaxValue
    else if (b <= BigDecimal(Long.MinValue)) Long.MinValue
    else b.setScale(0, BigDecimal.RoundingMode.CEILING).toLong
  private def clampHiMicros(b: BigDecimal): Long =
    if (b >= BigDecimal(Long.MaxValue)) Long.MaxValue
    else if (b <= BigDecimal(Long.MinValue)) Long.MinValue
    else b.setScale(0, BigDecimal.RoundingMode.FLOOR).toLong

  /** The EXACT row filter one [[SnapshotPredicate]] re-applies on top
    * of its (conservative) file pruning — shared by
    * [[readSnapshotFiltered]] and [[deleteWhereFiltered]] so a pruned
    * read and a pruned delete can never disagree on membership.
    * Timestamp columns compare in micros space (matching their
    * recorded stat form); Eq/In compare the Spark CAST-AS-STRING form
    * (micros for timestamps); ranges compare typed (exact past 2^53). */
  private def residualFilter(schema: StructType,
      p: SnapshotPredicate): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{lit, unix_micros}
    def isTs(c: String) =
      schema(c).dataType == org.apache.spark.sql.types.TimestampType
    def strForm(c: String) =
      if (isTs(c)) unix_micros(qcol(c)).cast("string")
      else qcol(c).cast("string")
    p match {
      case SnapshotEquals(c, value) => strForm(c) === lit(value)
      case SnapshotIn(c, values) =>
        strForm(c).isin(values.toSeq.sorted: _*)
      case SnapshotRange(c, lo, hi) if isTs(c) =>
        unix_micros(qcol(c)) >= lit(clampLoMicros(lo)) &&
          unix_micros(qcol(c)) <= lit(clampHiMicros(hi))
      case SnapshotRange(c, lo, hi) => qcol(c) >= lit(lo) && qcol(c) <= lit(hi)
      case SnapshotStrRange(c, lo, hi) =>
        qcol(c).cast("string") >= lit(lo) && qcol(c).cast("string") <= lit(hi)
    }
  }

  /** Partition-pruned (equality) read — see [[readSnapshotFiltered]],
    * of which this is the single-equality form. */
  def readSnapshotWhere(spark: SparkSession, path: String, column: String,
      value: String, version: Long = -1L): DataFrame =
    readSnapshotFiltered(spark, path, Seq(SnapshotEquals(column, value)),
      version)

  /** D277: small-file compaction (OPTIMIZE) — bin-pack the current
    * version's sub-`targetBytes` files into ~targetBytes files and
    * commit the result as the next version with recomputed stats.
    * The row set is UNCHANGED (`#nodatachange` in the manifest, so
    * the change feed skips it); files already at or above the target
    * are carried verbatim, stats included; on a partitioned table the
    * repacking shuffles on the partition column so the
    * one-value-per-file invariant survives. Prior versions stay
    * readable (time travel) until [[vacuum]] reclaims the replaced
    * files. This is the maintenance a streaming-append table needs at
    * 100 TB: a day of micro-batches is thousands of manifest entries
    * and tiny parquet files, and scan planning is O(files). Returns
    * the committed version, or the current one when there is nothing
    * to pack. Carries the batch tag, so a maintaining stream's replay
    * guard is unaffected.
    *
    * `sortCol` is the Delta `OPTIMIZE … ZORDER BY` idea: without it,
    * the repack shuffles rows arbitrarily, so every packed file spans
    * the whole key range and the per-file stats that made range reads
    * a seek stop pruning. With it, the repack RANGE-partitions (and
    * sorts within files) on that column, so the packed files carry
    * near-disjoint [min, max] ranges and D264 skipping survives the
    * compaction — on a clustering key (event time, id) this is the
    * difference between OPTIMIZE preserving and destroying the
    * table's seek behavior. A multi-dimension clustering key is one
    * `zorder8` column away (D40). */
  /** Test hook (D283): how many times compaction planning had to fall
    * back to a driver `getFileStatus` RPC because a file had no
    * recorded `#file=` size — zero on any table written since sizes
    * landed in the manifest. */
  private[graft] val sizeFallbacks =
    new java.util.concurrent.atomic.AtomicLong(0L)

  def compact(spark: SparkSession, path: String,
      targetBytes: Long = 128L << 20,
      sortCol: Option[String] = None): Long = {
    require(targetBytes > 0, "targetBytes must be positive")
    val fs = new HPath(path).getFileSystem(conf(spark))
    var committed = -1L
    while (committed < 0) {
      val latest = latestVersion(spark, path)
      if (latest == 0) return 0L
      val m =
        try readManifest(fs, path, latest)
        catch { case _: java.io.FileNotFoundException => null } // re-resolve
      if (m != null) {
        // plan from the manifest's recorded sizes (D283); only legacy
        // entries written before `#file=` lines pay the per-file RPC
        val sized = m.files.map(f =>
          f -> m.sizes.get(f).map(_.bytes).getOrElse {
            sizeFallbacks.incrementAndGet()
            fs.getFileStatus(new HPath(path, f)).getLen
          })
        val (big, small) = sized.partition(_._2 >= targetBytes)
        val smallBytes = small.map(_._2).sum
        val bins = math.max(1,
          math.ceil(smallBytes.toDouble / targetBytes).toInt)
        if (small.length <= bins) return latest // already packed
        val landPart = m.partCols.filter(m.schema.fieldNames.contains)
        sortCol.foreach(c => require(m.schema.fieldNames.contains(c),
          s"no sort column $c in ${m.schema.fieldNames.mkString(", ")}"))
        val df = spark.read.schema(m.schema)
          .parquet(small.map(f => new HPath(path, f._1).toString): _*)
        // partition values first, then the clustering key: the
        // partitioned landing splits per value anyway, so the range
        // partitioning only has to keep each value's keys contiguous
        val shuffleKeys = (landPart ++ sortCol.toSeq).map(qcol)
        val packed = sortCol match {
          case Some(_) =>
            df.repartitionByRange(bins, shuffleKeys: _*)
              .sortWithinPartitions(shuffleKeys: _*)
          case None =>
            if (landPart.nonEmpty) df.repartition(bins, landPart.map(qcol): _*)
            else df.repartition(bins)
        }
        val commitId = java.util.UUID.randomUUID().toString
        val landed = landDataFiles(packed, path, s"data/c-$commitId", landPart)
        val newFiles = landed.map(_._1)
        val (newStats, newRows) = collectStats(spark, m.schema, path,
          s"data/c-$commitId", newFiles, forceCols = landPart)
        val newSizes = landed.map { case (f, b) =>
          f -> FileMeta(b, newRows.getOrElse(f, -1L)) }.toMap
        val bigSet = big.map(_._1).toSet
        val keepStats = m.stats.filter { case (f, _) => bigSet(f) }
        val keepSizes = m.sizes.filter { case (f, _) => bigSet(f) }
        if (tryPublish(fs, path, latest + 1,
            Manifest(m.schema, big.map(_._1) ++ newFiles, m.batchId,
              keepStats ++ newStats, m.partCols, dataChange = false,
              sizes = keepSizes ++ newSizes)))
          committed = latest + 1
        // lost race: a concurrent commit changed the file set — the
        // landed pack is an orphan (vacuum reclaims it); re-plan
        // against the new latest
      }
    }
    committed
  }

  /** OPTIMIZE ZORDER (D300): rewrite the table clustered on the
    * Morton (Z-order) interleaving of `cols`, so a scan filtering on
    * ANY subset of those columns prunes files — the multi-dimension
    * answer to [[compact]]'s single `sortCol` (which serves the first
    * column at the expense of every other). Delta's OPTIMIZE ZORDER
    * idea over the manifest log.
    *
    * How: each clustering column is rank-bucketed into `2^bitsPerCol`
    * quantile bins (edges from one bounded `approxQuantile` pass —
    * rank space, not value space, so skew cannot collapse the key the
    * way equi-width bucketing would), the per-column bucket indices
    * are bit-interleaved into one integer Z-key, and the table is
    * range-partitioned on that key into `ceil(bytes/targetBytes)`
    * files. Each landed file then covers a CONTIGUOUS Z-range = a
    * tight hyper-rectangle in rank space, so the recorded per-file
    * min/max stats (D264) are narrow on EVERY clustering column and
    * `fileAdmitted` prunes box queries on any of them. Null cluster
    * values sort as bucket 0 (present, prunable at the origin tile).
    *
    * Rows are unchanged — the commit publishes `#nodatachange`, so
    * the change feed skips it, exactly like [[compact]]. Lost publish
    * races re-plan against the new latest (orphans vacuumed). */
  def compactZorder(spark: SparkSession, path: String,
      cols: Seq[String], targetBytes: Long = 128L << 20,
      bitsPerCol: Int = 8): Long = {
    import org.apache.spark.sql.functions.{aggregate, array, col, lit,
      shiftleft, shiftright, when}
    require(cols.size >= 2 && cols.size <= 4,
      s"z-order needs 2..4 clustering columns, got ${cols.size}")
    require(bitsPerCol >= 2 && bitsPerCol <= 12,
      s"bitsPerCol must be in [2, 12], got $bitsPerCol")
    require(targetBytes > 0, "targetBytes must be positive")
    val fs = new HPath(path).getFileSystem(conf(spark))
    var committed = -1L
    while (committed < 0) {
      val latest = latestVersion(spark, path)
      if (latest == 0) return 0L
      val m =
        try readManifest(fs, path, latest)
        catch { case _: java.io.FileNotFoundException => null } // re-resolve
      if (m != null) {
        cols.foreach(c => require(m.schema.fieldNames.contains(c),
          s"no column $c in ${m.schema.fieldNames.mkString(", ")}"))
        cols.foreach { c =>
          val dt = m.schema(c).dataType
          require(isStatType(dt),
            s"z-order column $c: $dt records no file stats, clustering" +
              " on it cannot prune — pick a stats-typed column")
        }
        val df = spark.read.schema(m.schema)
          .parquet(m.files.map(f => new HPath(path, f).toString): _*)
        // rank-space quantile edges, one bounded pass (≤ cols·2^bits
        // doubles to the driver — the Delta OPTIMIZE sampling idea)
        val nBins = 1 << bitsPerCol
        val probes = (1 until nBins).map(_.toDouble / nBins).toArray
        val proj = df.select(cols.zipWithIndex.map { case (c, i) =>
          qcol(c).cast("double").as(s"_z$i") }: _*)
        val edges = cols.indices.map(i =>
          proj.stat.approxQuantile(s"_z$i", probes, 1e-3))
        // per-column bucket = #edges ≤ v (a bounded runtime fold, not
        // a 2^bits-branch codegen CASE); null → 0 (origin tile)
        val buckets = cols.zipWithIndex.map { case (c, i) =>
          val es = edges(i).distinct.sorted
          if (es.isEmpty) lit(0) // all-null column: one tile
          else {
            val v = qcol(c).cast("double")
            aggregate(array(es.toIndexedSeq.map(lit(_)): _*),
              lit(0), (acc, e) => acc + when(v >= e, 1).otherwise(0))
          }
        }
        // bit-interleave: z = Σ_b Σ_i ((bucket_i >> b) & 1) << (b·k+i)
        val zkey = (0 until bitsPerCol).flatMap { b =>
          buckets.zipWithIndex.map { case (bk, i) =>
            shiftleft(shiftright(bk, b).bitwiseAND(lit(1)),
              b * cols.size + i).cast("long") }
        }.reduce(_ + _)
        val totalBytes = m.files.map(f =>
          m.sizes.get(f).map(_.bytes).getOrElse {
            sizeFallbacks.incrementAndGet()
            fs.getFileStatus(new HPath(path, f)).getLen
          }).sum
        val bins = math.max(1,
          math.ceil(totalBytes.toDouble / targetBytes).toInt)
        val landPart = m.partCols.filter(m.schema.fieldNames.contains)
        val zc = "_graft_zkey"
        val shuffleKeys = landPart.map(qcol) :+ col(zc)
        val packed = df.withColumn(zc, zkey)
          .repartitionByRange(bins, shuffleKeys: _*)
          .sortWithinPartitions(shuffleKeys: _*)
          .drop(zc)
        val commitId = java.util.UUID.randomUUID().toString
        val landed = landDataFiles(packed, path, s"data/c-$commitId",
          landPart)
        val newFiles = landed.map(_._1)
        val (newStats, newRows) = collectStats(spark, m.schema, path,
          s"data/c-$commitId", newFiles, forceCols = landPart)
        val newSizes = landed.map { case (f, b) =>
          f -> FileMeta(b, newRows.getOrElse(f, -1L)) }.toMap
        if (tryPublish(fs, path, latest + 1,
            Manifest(m.schema, newFiles, m.batchId, newStats,
              m.partCols, dataChange = false, sizes = newSizes)))
          committed = latest + 1
      }
    }
    committed
  }

  /** Shallow CLONE (D301, Delta's `CREATE TABLE … SHALLOW CLONE`):
    * publish a NEW table at `dst` whose v1 manifest references the
    * SOURCE's data files in place (absolute paths) — a zero-copy
    * branch of `src` as of `versionAsOf` (default latest). Stats and
    * recorded sizes carry over verbatim, so pruning and manifest-
    * planned maintenance work at the clone immediately; subsequent
    * commits to the clone land under the CLONE's directory and never
    * touch the source, so the two evolve independently (copy-on-write
    * makes divergence safe — referenced files are immutable). The
    * clone's own [[vacuum]] only ever deletes below the clone
    * (source-absolute entries are outside its data walk); vacuuming
    * the SOURCE past the cloned version can retire shared files —
    * the documented shallow-clone contract (Delta's caveat too). */
  def cloneSnapshot(spark: SparkSession, src: String, dst: String,
      versionAsOf: Option[Long] = None): Long = {
    val fs = new HPath(src).getFileSystem(conf(spark))
    require(versions(spark, dst).isEmpty,
      s"clone target $dst already has committed versions")
    val v = versionAsOf.getOrElse(latestVersion(spark, src))
    val m = readManifest(fs, src, v)
    def abs(f: String): String =
      if (new HPath(f).isAbsolute) f // re-clone of a clone
      else new HPath(src, f).toString
    val dfs = new HPath(dst).getFileSystem(conf(spark))
    require(tryPublish(dfs, dst, 1L,
      Manifest(m.schema, m.files.map(abs), batchId = None,
        stats = m.stats.map { case (f, s) => abs(f) -> s },
        partCols = m.partCols,
        sizes = m.sizes.map { case (f, s) => abs(f) -> s })),
      s"clone target $dst was committed concurrently")
    1L
  }

  /** RESTORE (D301, Delta's `RESTORE TABLE … TO VERSION AS OF`): roll
    * the table back to `toVersion`'s state as a NEW commit — history
    * is never rewritten, so the bad versions stay readable (audit) and
    * downstream consumers see the rollback as ordinary row-level
    * changes. The commit's change-data files carry the file-set diff:
    * rows of files the restore re-adds land as `insert`, rows of files
    * it removes land as `delete` (files in both versions contribute
    * nothing — copy-on-write means identical path ⇒ identical rows),
    * so an incremental MV (D267) self-heals through a rollback with
    * the same ±1 algebra as any other commit. Cost is O(changed
    * files), never O(table). Restoring across a schema change is
    * rejected (the feed cannot carry two schemas in one commit);
    * restoring to a vacuumed version fails loudly on the missing
    * manifest. */
  def restore(spark: SparkSession, path: String, toVersion: Long): Long = {
    import org.apache.spark.sql.functions.lit
    val fs = new HPath(path).getFileSystem(conf(spark))
    var committed = -1L
    while (committed < 0) {
      val latest = latestVersion(spark, path)
      require(toVersion >= 1 && toVersion <= latest,
        s"restore target $toVersion outside committed range [1, $latest]")
      if (toVersion == latest) return latest
      val tm = readManifest(fs, path, toVersion)
      val m =
        try readManifest(fs, path, latest)
        catch { case _: java.io.FileNotFoundException => null } // re-resolve
      if (m != null) {
        require(m.schema == tm.schema,
          s"restore across a schema change (v$toVersion ≠ v$latest) is " +
            "not supported — the change feed carries one schema per commit")
        val cur = m.files.toSet
        val tgt = tm.files.toSet
        val added = tm.files.filterNot(cur)
        val removed = m.files.filterNot(tgt)
        if (added.isEmpty && removed.isEmpty) return latest // same state
        def rows(fsq: Seq[String]): Option[DataFrame] =
          if (fsq.isEmpty) None
          else Some(spark.read.schema(m.schema)
            .parquet(fsq.map(f => new HPath(path, f).toString): _*))
        val ins = rows(added).map(_.withColumn(changeTypeCol, lit("insert")))
        val del = rows(removed).map(_.withColumn(changeTypeCol, lit("delete")))
        val cdf = (ins, del) match {
          case (Some(a), Some(d)) => a.unionAll(d)
          case (Some(a), None) => a
          case (None, Some(d)) => d
          case _ => throw new IllegalStateException("unreachable")
        }
        val cdfFiles = landChangeFiles(cdf, path)
        if (tryPublish(fs, path, latest + 1,
            Manifest(tm.schema, tm.files, m.batchId, tm.stats,
              tm.partCols, sizes = tm.sizes, changeFiles = cdfFiles,
              cdfComplete = true)))
          committed = latest + 1
      }
    }
    committed
  }

  /** The change feed's row-level change-type column (D286): `insert`,
    * `update_preimage` / `update_postimage` (merge commits), `delete`
    * (deleteWhere commits) — Delta CDF's vocabulary. */
  val changeTypeCol = "_change_type"

  /** D278 (batch half): the table's change feed — the row-level
    * changes each data-changing commit in `(fromVersion, toVersion]`
    * made, in commit order, each row carrying `_change_type` (D286:
    * insert / update_preimage / update_postimage / delete) and
    * `_commit_version`. Append commits emit their added files' rows as
    * `insert` (data files are immutable, so file-set deltas ARE the
    * row deltas there). MERGE and DELETE commits write explicit
    * change-data files at commit time (`#change=` manifest lines —
    * Delta's CDF design), so a downstream incremental MV survives a
    * copy-on-write commit: rewritten-but-unchanged rows do NOT appear
    * in the feed, updated keys appear as a pre/post image pair, and
    * deletes appear as `delete` rows. Compaction commits
    * (`#nodatachange`) rewrite files without changing rows and are
    * skipped. Pre-D286 merge commits (no recorded change files) fall
    * back to surfacing their rewritten files as `insert` — the legacy
    * upsert-as-append reading, now confined to legacy manifests.
    * `fromVersion = 0` reads from the beginning; `toVersion = -1`
    * means latest. Old versions must not have been vacuumed past
    * `fromVersion`. */
  def changesBetween(spark: SparkSession, path: String, fromVersion: Long,
      toVersion: Long = -1L): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val vs = versions(spark, path)
    require(vs.nonEmpty, s"no committed versions under $path")
    val to = if (toVersion < 0) vs.last else toVersion
    require(to <= vs.last, s"version $to not committed yet (latest ${vs.last})")
    require(fromVersion == 0 || vs.contains(fromVersion),
      s"change-feed base version $fromVersion is not committed " +
        s"(vacuumed?); available: ${vs.headOption.getOrElse(0L)}..${vs.last}")
    val fs = new HPath(path).getFileSystem(conf(spark))
    val range = vs.filter(v => v > fromVersion && v <= to)
    val tableSchema =
      (if (range.nonEmpty) readManifest(fs, path, range.last)
       else readManifest(fs, path, vs.last)).schema
    val ctField = org.apache.spark.sql.types.StructField(changeTypeCol,
      org.apache.spark.sql.types.StringType, nullable = false)
    val outSchema = StructType(tableSchema.fields :+ ctField :+
      org.apache.spark.sql.types.StructField("_commit_version",
        org.apache.spark.sql.types.LongType, nullable = false))
    def empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema)
    if (range.isEmpty) return empty
    var prev: Set[String] =
      if (fromVersion == 0) Set.empty
      else readManifest(fs, path, fromVersion).files.toSet
    val slices = range.flatMap { v =>
      val mv = readManifest(fs, path, v)
      val added = mv.files.filterNot(prev)
      prev = mv.files.toSet
      if (!mv.dataChange) None
      else if (mv.cdfComplete) {
        // commit-time change-data files already carry _change_type;
        // a CDF-complete commit with NO change files changed no rows
        if (mv.changeFiles.isEmpty) None
        else Some(spark.read
          .schema(StructType(tableSchema.fields :+ ctField.copy(nullable = true)))
          .parquet(mv.changeFiles.map(f => new HPath(path, f).toString): _*)
          .withColumn("_commit_version", lit(v)))
      }
      else if (added.isEmpty) None
      else Some(
        spark.read
          .schema(tableSchema)
          .parquet(added.map(f => new HPath(path, f).toString): _*)
          .withColumn(changeTypeCol, lit("insert"))
          .withColumn("_commit_version", lit(v)))
    }
    if (slices.isEmpty) empty
    else slices.reduce(_.unionAll(_))
  }

  /** Versions with their manifest commit times (ascending). */
  def versionTimes(spark: SparkSession, path: String): Seq[(Long, Long)] = {
    val dir = manifestDir(path)
    val fs = dir.getFileSystem(conf(spark))
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .flatMap(s => versionOf(s.getPath).map(_ -> s.getModificationTime))
      .sortBy(_._1)
  }

  /** TIMESTAMP AS OF: the newest version committed at or before
    * `tsMillis` (manifest publication time — the rename is the commit
    * instant). Fails loudly when the table did not exist yet. */
  def versionAsOf(spark: SparkSession, path: String, tsMillis: Long): Long = {
    val eligible = versionTimes(spark, path).filter(_._2 <= tsMillis)
    require(eligible.nonEmpty,
      s"no version committed at or before $tsMillis under $path")
    eligible.map(_._1).max
  }

  def readSnapshotAsOf(spark: SparkSession, path: String,
      tsMillis: Long): DataFrame =
    readSnapshot(spark, path, versionAsOf(spark, path, tsMillis))

  /** The highest streaming batch tag committed so far. Untagged
    * APPENDS/MERGES carry the previous tag forward, so an operator
    * write interleaved between a tagged commit and its foreachBatch
    * retry cannot blind the replay guard; an untagged full OVERWRITE
    * repurposes the table and RESETS the tag, so a replacement stream
    * with a fresh checkpoint starts clean. Batch ids are per-query:
    * one table is maintained by one stream (the D255 contract). */
  def latestBatchId(spark: SparkSession, path: String): Option[Long] = {
    val vs = versions(spark, path)
    if (vs.isEmpty) None
    else {
      val fs = new HPath(path).getFileSystem(conf(spark))
      readManifest(fs, path, vs.last).batchId
    }
  }

  /** Exactly-once streaming append: commit `df` as the next version
    * TAGGED with the micro-batch id. The tag rides INSIDE the atomic
    * manifest publication, so a foreachBatch RETRY of an
    * already-committed batch — Structured Streaming's failure mode
    * after a crash between epoch commit and checkpoint advance — is
    * detected from the latest manifest and skipped, not re-appended.
    * (Batch ids arrive in order per query, so checking the LATEST
    * tag suffices.) Returns the committed version, or None if the
    * batch had already landed. */
  def appendBatch(df: DataFrame, path: String, batchId: Long): Option[Long] = {
    if (latestBatchId(df.sparkSession, path).exists(_ >= batchId)) None
    else Some(writeTagged(df, path, overwrite = false, Some(batchId)))
  }

  /** Exactly-once streaming OVERWRITE: commit `df` as the next version
    * replacing the visible contents, tagged with the micro-batch id —
    * [[appendBatch]]'s idempotence contract for view-refresh sinks,
    * where each batch publishes the WHOLE refreshed view (no survivor
    * anti-join needed: the new version's keys are a superset by
    * construction). */
  def overwriteBatch(df: DataFrame, path: String,
      batchId: Long): Option[Long] = {
    if (latestBatchId(df.sparkSession, path).exists(_ >= batchId)) None
    else Some(writeTagged(df, path, overwrite = true, Some(batchId)))
  }

  /** Streaming sink: every micro-batch lands as one committed,
    * batch-tagged snapshot version — the CDC-to-versioned-table
    * landing pattern, exactly-once by [[appendBatch]]'s idempotence.
    * Caller owns the query lifecycle. */
  def streamAppend(df: DataFrame, path: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          id: Long) =>
        appendBatch(batch.toDF(), path, id); ()
      }
      .outputMode("append")
      .start()

  /** Read a committed version (default -1 = latest). The scan plans
    * from the manifest's explicit file list with its recorded schema —
    * no directory listing, no schema inference. */
  def readSnapshot(spark: SparkSession, path: String,
      version: Long = -1L): DataFrame = {
    val vs = versions(spark, path)
    require(vs.nonEmpty, s"no committed versions under $path")
    val v = if (version < 0) vs.last else version
    require(vs.contains(v), s"version $v not in committed set $vs")
    val fs = new HPath(path).getFileSystem(conf(spark))
    val m = readManifest(fs, path, v)
    if (m.files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        m.schema)
    else
      spark.read.schema(m.schema)
        .parquet(m.files.map(f => new HPath(path, f).toString): _*)
  }

  /** D264: manifest-stats data skipping — read `version` filtered to
    * `column ∈ [lo, hi]`, planning ONLY the data files whose recorded
    * per-file [min, max] intersects the range (files without stats —
    * legacy manifests, all-null columns — are read: pruning is
    * conservative, never lossy). The exact filter still applies on
    * top, so the result is IDENTICAL to filtering [[readSnapshot]];
    * the stats only delete I/O. At 100 TB file counts this is the
    * difference between a scan and a seek: time-keyed or id-clustered
    * commits give near-disjoint per-file ranges, so a point/range
    * lookup plans O(1) files out of millions — decided entirely from
    * the manifest, zero parquet footer reads. Bounds compare as
    * BigDecimal against the recorded decimal strings (exact past
    * 2⁵³ where a double round-trip would mis-prune). */
  def readSnapshotRange(spark: SparkSession, path: String, column: String,
      lo: BigDecimal, hi: BigDecimal, version: Long = -1L): DataFrame =
    readSnapshotFiltered(spark, path, Seq(SnapshotRange(column, lo, hi)),
      version)

  /** Copy-on-write upsert (MERGE-lite): commit a version whose
    * contents are the current snapshot with `updates` rows replacing
    * same-key rows and new-key rows appended — the CDC-apply step
    * (q33's semantics) landed as a TABLE operation, so readers time
    * travel across merge generations. The rewrite is full-snapshot:
    * right for the dimension-sized tables merges target (SCD feeds,
    * registries); a data-scale MERGE needs file-level pruning of
    * untouched files, deliberately out of scope here. Returns the
    * committed version. */
  def merge(updates: DataFrame, path: String,
      keyCols: Seq[String]): Long =
    mergeTagged(updates, path, keyCols, batchId = None)

  /** Land a commit's change-data files (the commit's rows plus their
    * [[changeTypeCol]]) under `data/cdf-<id>/` — referenced only by
    * `#change=` manifest lines, never part of the table's file list,
    * vacuumed with their version (D286). */
  private def landChangeFiles(cdf: DataFrame, path: String): Seq[String] =
    landDataFiles(cdf, path,
      s"data/cdf-${java.util.UUID.randomUUID()}").map(_._1)

  /** The pre/post-image change-data frame of one copy-on-write upsert:
    * matched old rows as `update_preimage`, matched update rows as
    * `update_postimage`, new-key update rows as `insert` (D286). `old`
    * must cover every file that can hold an update key (full snapshot
    * for [[merge]]; the stats-touched set for [[mergePruned]], whose
    * conservative pruning guarantees coverage). */
  private def upsertChanges(old: DataFrame, updates: DataFrame,
      keyCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val updKeys = updates.select(keyCols.map(k => qcol(k).as(k)): _*)
    val oldKeys = old.select(keyCols.map(k => qcol(k).as(k)): _*)
    val pre = old.join(updKeys, keyCols, "left_semi")
      .withColumn(changeTypeCol, lit("update_preimage"))
    val post = updates.join(oldKeys, keyCols, "left_semi")
      .withColumn(changeTypeCol, lit("update_postimage"))
    val ins = updates.join(oldKeys, keyCols, "left_anti")
      .withColumn(changeTypeCol, lit("insert"))
    pre.unionAll(post).unionAll(ins)
  }

  private def mergeTagged(updates: DataFrame, path: String,
      keyCols: Seq[String], batchId: Option[Long]): Long = {
    require(keyCols.nonEmpty, "merge needs at least one key column")
    val spark = updates.sparkSession
    if (versions(spark, path).isEmpty)
      return writeTagged(updates, path, overwrite = true, batchId)
    val cur = readSnapshot(spark, path)
    // names + types must line up; nullability may differ (a parquet
    // read-back is nullable even when the writing frame was not)
    require(cur.schema.map(f => (f.name, f.dataType)) ==
        updates.schema.map(f => (f.name, f.dataType)),
      s"merge schema mismatch: table has ${cur.schema}, " +
        s"updates have ${updates.schema}")
    val survivors = cur.join(
      updates.select(keyCols.map(k => qcol(k).as(k)): _*),
      keyCols, "left_anti")
    val cdfFiles = landChangeFiles(upsertChanges(cur, updates, keyCols), path)
    writeTagged(survivors.unionAll(updates), path, overwrite = true, batchId,
      changeFiles = cdfFiles, cdfComplete = true)
  }

  /** Exactly-once streaming MERGE: the [[appendBatch]] idempotence
    * contract applied to upserts — a foreachBatch retry of an
    * already-merged micro-batch is detected from the latest manifest's
    * batch tag and skipped (the tag rides inside the same atomic
    * manifest publication as the merge itself, so there is no window
    * where the data landed but the tag did not). */
  def mergeBatch(updates: DataFrame, path: String, keyCols: Seq[String],
      batchId: Long): Option[Long] = {
    if (latestBatchId(updates.sparkSession, path).exists(_ >= batchId)) None
    else Some(mergeTagged(updates, path, keyCols, Some(batchId)))
  }

  /** D274: stats-pruned copy-on-write MERGE — the file-level pruning
    * [[merge]] documents as its scale extension, now that manifests
    * carry per-file column stats (D264). Only data files whose
    * recorded [min, max] on `keyCol` intersects the updates' key
    * range are rewritten (survivor anti-join ∪ updates); every other
    * file is carried into the new manifest VERBATIM, stats included —
    * at 100 TB a CDC batch touching one day's keys rewrites a handful
    * of files, not the table. Files without stats are conservatively
    * treated as touched. The key-range rule is range-based, so sparse
    * update keys inside a wide range still rewrite the whole range —
    * the standard Delta-style trade (exactness would need per-key
    * bloom pruning). Concurrency: last-commit-wins like [[merge]];
    * on a lost publish race the WHOLE merge re-runs against the new
    * latest (the losers' landed files become vacuum orphans). */
  def mergePruned(updates: DataFrame, path: String, keyCol: String): Long = {
    val spark = updates.sparkSession
    require(updates.schema.fieldNames.contains(keyCol),
      s"no key column $keyCol in ${updates.schema.fieldNames.mkString(", ")}")
    val keyType = updates.schema(keyCol).dataType
    val stringKeyed = keyType match {
      case org.apache.spark.sql.types.StringType |
           org.apache.spark.sql.types.DateType => true
      case _ =>
        require(isStatType(keyType),
          s"mergePruned needs a stats-prunable key column; " +
            s"$keyCol is $keyType — use merge() for other keys")
        false
    }
    if (versions(spark, path).isEmpty)
      return writeSnapshot(updates, path)
    val fs = new HPath(path).getFileSystem(conf(spark))
    import org.apache.spark.sql.functions.{floor, lit, max, min, ntile, when}
    // Bucketed update-key ranges, not one global envelope: two updated
    // keys at opposite ends of the key space must rewrite only the
    // files THEIR buckets touch, so the "CDC touches one day" promise
    // survives sparse updates. Numeric keys bucket by equi-width value
    // ranges in one bounded pass (empty buckets simply don't appear —
    // the gaps between them are what saves the rewrite). String/date
    // keys (round-14 verdict ask #5) bucket by SORT QUANTILES of the
    // distinct update keys (ntile over one global sort of a
    // CDC-batch-bounded distinct set) in their recorded stat-string
    // form, intersected lexicographically — which is value order for
    // ISO dates, and for ASCII string keys ([[strStatUsable]]'s rule;
    // files whose stats fall outside it are conservatively rewritten).
    val buckets = 64
    val perBucket: Array[(String, String)] =
      if (stringKeyed) {
        import org.apache.spark.sql.expressions.Window
        val k = qcol(keyCol).cast("string").as("k")
        updates.select(k).filter(qcol("k").isNotNull).distinct()
          .withColumn("b", ntile(buckets).over(Window.orderBy(qcol("k"))))
          .groupBy(qcol("b"))
          .agg(min(qcol("k")).as("mn"), max(qcol("k")).as("mx"))
          .collect()
          .map(r => (r.getString(1), r.getString(2)))
      } else {
        val kd = qcol(keyCol).cast("double")
        val g = updates.agg(min(kd).as("lo"), max(kd).as("hi")).head()
        if (g.isNullAt(0)) Array.empty
        else {
          val gLo = g.getDouble(0)
          val gHi = g.getDouble(1)
          val width =
            math.max((gHi - gLo) / buckets, java.lang.Double.MIN_NORMAL)
          updates
            .groupBy(when(kd.isNaN, lit(buckets.toLong))
              .otherwise(floor((kd - lit(gLo)) / lit(width))).as("b"))
            .agg(min(qcol(keyCol)).cast("string").as("mn"),
              max(qcol(keyCol)).cast("string").as("mx"))
            .collect()
            // an all-null-key bucket has null bounds and matches no file
            .flatMap(r => if (r.isNullAt(1) || r.isNullAt(2)) None
              else Some((r.getString(1), r.getString(2))))
        }
      }
    if (perBucket.isEmpty) return latestVersion(spark, path) // empty: no-op
    val floating = keyType match {
      case org.apache.spark.sql.types.FloatType |
           org.apache.spark.sql.types.DoubleType => true
      case _ => false
    }
    // per-bucket bounds stay strings so float NaN/Infinity buckets
    // parse on the same path as file stats (they loosen to ±∞)
    def intersectsBucket(fmn: String, fmx: String): Boolean =
      perBucket.exists { case (blo, bhi) =>
        if (stringKeyed) {
          // lexicographic interval test — value order for ISO dates;
          // for strings only when every endpoint is ASCII (UTF8 vs
          // UTF-16 order diverges past it), else conservative rewrite
          if (keyType == org.apache.spark.sql.types.StringType &&
              !Seq(fmn, fmx, blo, bhi).forall(isAscii)) true
          else fmx >= blo && fmn <= bhi
        } else if (floating) {
          try {
            def low(s: String) = {
              val d = s.toDouble
              if (d.isNaN) Double.NegativeInfinity else math.nextDown(d)
            }
            def high(s: String) = {
              val d = s.toDouble
              if (d.isNaN) Double.PositiveInfinity else math.nextUp(d)
            }
            high(fmx) >= low(blo) && low(fmn) <= high(bhi)
          } catch { case _: NumberFormatException => true }
        } else {
          try statsIntersect(fmn, fmx, BigDecimal(blo), BigDecimal(bhi),
            floating = false)
          catch { case _: NumberFormatException => true }
        }
      }
    var committed = -1L
    while (committed < 0) {
      val latest = latestVersion(spark, path)
      val m =
        try readManifest(fs, path, latest)
        catch { case _: java.io.FileNotFoundException => null } // re-resolve
      if (m != null) {
        require(m.schema.map(f => (f.name, f.dataType)) ==
            updates.schema.map(f => (f.name, f.dataType)),
          s"merge schema mismatch: table has ${m.schema}, " +
            s"updates have ${updates.schema}")
        def touchedFile(f: String): Boolean =
          m.stats.get(f).flatMap(_.get(keyCol)) match {
            case Some((mn, mx)) => intersectsBucket(mn, mx)
            case None => true // no stats: conservatively rewrite
          }
        val (touched, untouched) = m.files.partition(touchedFile)
        val touchedDf =
          if (touched.isEmpty)
            spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], m.schema)
          else spark.read.schema(m.schema)
            .parquet(touched.map(f => new HPath(path, f).toString): _*)
        val ordered = updates.select(m.schema.fieldNames.toSeq.map(qcol): _*)
        val survivors = touchedDf.join(
          updates.select(qcol(keyCol).as(keyCol)), Seq(keyCol), "left_anti")
        val rewritten = survivors.unionAll(ordered)
        val commitId = java.util.UUID.randomUUID().toString
        val landPart = m.partCols.filter(m.schema.fieldNames.contains)
        val landed = landDataFiles(rewritten, path, s"data/c-$commitId",
          landPart)
        val newFiles = landed.map(_._1)
        val (newStats, newRows) = collectStats(spark, m.schema, path,
          s"data/c-$commitId", newFiles, forceCols = landPart)
        val newSizes = landed.map { case (f, b) =>
          f -> FileMeta(b, newRows.getOrElse(f, -1L)) }.toMap
        val untouchedSet = untouched.toSet
        val keepStats = m.stats.filter { case (f, _) => untouchedSet(f) }
        val keepSizes = m.sizes.filter { case (f, _) => untouchedSet(f) }
        // the touched set covers every file that can hold an update key
        // (conservative stats pruning), so pre/post images off it are
        // complete (D286)
        val cdfFiles = landChangeFiles(
          upsertChanges(touchedDf, ordered, Seq(keyCol)), path)
        if (tryPublish(fs, path, latest + 1,
            Manifest(m.schema, untouched ++ newFiles,
              m.batchId, keepStats ++ newStats, m.partCols,
              sizes = keepSizes ++ newSizes, changeFiles = cdfFiles,
              cdfComplete = true)))
          committed = latest + 1
      }
    }
    committed
  }

  /** D287: DELETE WHERE, stats-pruned copy-on-write — the other half
    * of the table's mutation story (retention windows, GDPR erasure).
    * Removes every row with `column ∈ [lo, hi]` (nulls are never in a
    * range, so null-keyed rows are kept) by rewriting ONLY the data
    * files whose recorded [min, max] on `column` intersects the range
    * — every other file is carried into the new manifest verbatim,
    * stats and sizes included, exactly the [[mergePruned]] file
    * intersection. At 100 TB a 90-day retention sweep on a time-keyed
    * table rewrites the expiring files, not the table. The deleted
    * rows land as `delete` change-data rows (D286), so downstream
    * incremental consumers subtract them; prior versions stay readable
    * (time travel) until [[vacuum]] reclaims the replaced files.
    * Files without stats are conservatively rewritten. Returns the
    * committed version (the current one when nothing matched —
    * an empty delete publishes no commit). */
  def deleteWhere(spark: SparkSession, path: String, column: String,
      lo: BigDecimal, hi: BigDecimal): Long =
    deleteWhereFiltered(spark, path, Seq(SnapshotRange(column, lo, hi)))

  /** Generalized DELETE WHERE (round-14 verdict ask #4): remove every
    * row matching ALL of `preds` — the same equality / IN-set / range
    * vocabulary the read side prunes with (D285), so a GDPR erasure
    * sweep `WHERE user_id IN (…)` on a STRING key rewrites only the
    * files whose recorded stats can hold one of the keys, exactly like
    * the numeric retention window. Pruning and row membership share
    * one definition each ([[fileAdmitted]], [[residualFilter]]) with
    * the filtered read, so a pruned delete removes EXACTLY the rows a
    * pruned read would return. Rows with a null in any predicate
    * column never match (SQL predicate semantics) and are kept. */
  def deleteWhereFiltered(spark: SparkSession, path: String,
      preds: Seq[SnapshotPredicate]): Long = {
    import org.apache.spark.sql.functions.{coalesce, lit}
    require(preds.nonEmpty, "deleteWhereFiltered needs at least one predicate")
    require(versions(spark, path).nonEmpty,
      s"no committed versions under $path")
    val fs = new HPath(path).getFileSystem(conf(spark))
    var committed = -1L
    while (committed < 0) {
      val latest = latestVersion(spark, path)
      val m =
        try readManifest(fs, path, latest)
        catch { case _: java.io.FileNotFoundException => null } // re-resolve
      if (m != null) {
        preds.foreach(p => require(m.schema.fieldNames.contains(p.column),
          s"no column ${p.column} in ${m.schema.fieldNames.mkString(", ")}"))
        val (touched, untouched) =
          m.files.partition(f => fileAdmitted(m, f, preds))
        if (touched.isEmpty) return latest // no file can hold a match
        val touchedDf = spark.read.schema(m.schema)
          .parquet(touched.map(f => new HPath(path, f).toString): _*)
        val hit = preds.map(residualFilter(m.schema, _)).reduce(_ && _)
        // null-safe survivor predicate: a null in any predicate column
        // makes `hit` null, which filter() would drop on BOTH sides —
        // such rows never match a predicate, so they are KEPT
        val kept = touchedDf.filter(!coalesce(hit, lit(false)))
        val deleted = touchedDf.filter(hit)
        // conservative pruning can "touch" stats-less files the range
        // never matches — confirm before rewriting anything, so a
        // no-op delete publishes no commit (one short-circuiting scan
        // of the touched files; it stops at the first match)
        if (deleted.isEmpty) return latest
        val commitId = java.util.UUID.randomUUID().toString
        val landPart = m.partCols.filter(m.schema.fieldNames.contains)
        val landed = landDataFiles(kept, path, s"data/c-$commitId", landPart)
        val newFiles = landed.map(_._1)
        val (newStats, newRows) = collectStats(spark, m.schema, path,
          s"data/c-$commitId", newFiles, forceCols = landPart)
        val newSizes = landed.map { case (f, b) =>
          f -> FileMeta(b, newRows.getOrElse(f, -1L)) }.toMap
        val untouchedSet = untouched.toSet
        val keepStats = m.stats.filter { case (f, _) => untouchedSet(f) }
        val keepSizes = m.sizes.filter { case (f, _) => untouchedSet(f) }
        val cdfFiles = landChangeFiles(
          deleted.withColumn(changeTypeCol, lit("delete")), path)
        if (tryPublish(fs, path, latest + 1,
            Manifest(m.schema, untouched ++ newFiles,
              m.batchId, keepStats ++ newStats, m.partCols,
              sizes = keepSizes ++ newSizes, changeFiles = cdfFiles,
              cdfComplete = true)))
          committed = latest + 1
      }
    }
    committed
  }

  /** UPDATE WHERE (D299) — the DML verb MERGE and DELETE left open:
    * rewrite every row matching ALL of `preds` (the read side's
    * equality / IN-set / range vocabulary, D285) with the `set`
    * expressions applied, copy-on-write. Files whose recorded stats
    * cannot hold a match carry verbatim (same pruning rule as the
    * filtered read and [[deleteWhereFiltered]] — one definition,
    * [[fileAdmitted]]); matched rows land as an `update_preimage` /
    * `update_postimage` pair in the change feed (D286), so downstream
    * incremental consumers apply the same ±1 algebra a MERGE update
    * drives. SET expressions may reference any of the row's columns
    * (`SET price = price * 2`) and are cast to the column's RECORDED
    * type, so the table schema never drifts through an update (ANSI
    * UPDATE semantics). Updating a partition-layout column is legal:
    * rewritten rows re-route to their new value's directory and the
    * forced min==max signature stats follow. Rows with a null in any
    * predicate column never match (SQL semantics) and carry unchanged.
    * Returns the committed version (the current one when nothing
    * matched — an empty update publishes no commit). */
  def updateWhere(spark: SparkSession, path: String,
      preds: Seq[SnapshotPredicate],
      set: Map[String, org.apache.spark.sql.Column]): Long = {
    import org.apache.spark.sql.functions.{coalesce, lit}
    require(preds.nonEmpty, "updateWhere needs at least one predicate")
    require(set.nonEmpty, "updateWhere needs at least one SET column")
    require(versions(spark, path).nonEmpty,
      s"no committed versions under $path")
    val fs = new HPath(path).getFileSystem(conf(spark))
    var committed = -1L
    while (committed < 0) {
      val latest = latestVersion(spark, path)
      val m =
        try readManifest(fs, path, latest)
        catch { case _: java.io.FileNotFoundException => null } // re-resolve
      if (m != null) {
        (preds.map(_.column) ++ set.keys).foreach(c =>
          require(m.schema.fieldNames.contains(c),
            s"no column $c in ${m.schema.fieldNames.mkString(", ")}"))
        val (touched, untouched) =
          m.files.partition(f => fileAdmitted(m, f, preds))
        if (touched.isEmpty) return latest // no file can hold a match
        val touchedDf = spark.read.schema(m.schema)
          .parquet(touched.map(f => new HPath(path, f).toString): _*)
        val hit = preds.map(residualFilter(m.schema, _)).reduce(_ && _)
        val matched = touchedDf.filter(coalesce(hit, lit(false)))
        // conservative pruning can "touch" stats-less files no row of
        // which matches — confirm before rewriting (short-circuiting
        // scan), so a no-op update publishes no commit
        if (matched.isEmpty) return latest
        // SET applied in declared column order, each expression cast
        // to the column's recorded type: the schema cannot drift
        val updated = matched.select(m.schema.fields.toSeq.map { f =>
          set.get(f.name).map(_.cast(f.dataType).as(f.name))
            .getOrElse(qcol(f.name).as(f.name))
        }: _*)
        val kept = touchedDf.filter(!coalesce(hit, lit(false)))
        val commitId = java.util.UUID.randomUUID().toString
        val landPart = m.partCols.filter(m.schema.fieldNames.contains)
        val landed = landDataFiles(kept.unionAll(updated), path,
          s"data/c-$commitId", landPart)
        val newFiles = landed.map(_._1)
        val (newStats, newRows) = collectStats(spark, m.schema, path,
          s"data/c-$commitId", newFiles, forceCols = landPart)
        val newSizes = landed.map { case (f, b) =>
          f -> FileMeta(b, newRows.getOrElse(f, -1L)) }.toMap
        val untouchedSet = untouched.toSet
        val keepStats = m.stats.filter { case (f, _) => untouchedSet(f) }
        val keepSizes = m.sizes.filter { case (f, _) => untouchedSet(f) }
        val cdfFiles = landChangeFiles(
          matched.withColumn(changeTypeCol, lit("update_preimage"))
            .unionAll(
              updated.withColumn(changeTypeCol, lit("update_postimage"))),
          path)
        if (tryPublish(fs, path, latest + 1,
            Manifest(m.schema, untouched ++ newFiles,
              m.batchId, keepStats ++ newStats, m.partCols,
              sizes = keepSizes ++ newSizes, changeFiles = cdfFiles,
              cdfComplete = true)))
          committed = latest + 1
      }
    }
    committed
  }

  /** Default vacuum grace: unreferenced files younger than this are
    * presumed to belong to an IN-FLIGHT commit (landed but not yet
    * published) and are left alone — the Delta/Iceberg retention
    * idea, sized to any sane commit duration. */
  val vacuumMinAgeMs: Long = 10 * 60 * 1000L

  /** Retire history: keep the newest `keepVersions` manifests, delete
    * older ones plus every data file no kept manifest references
    * (orphans from lost commit races included) that is older than
    * `minAgeMs`. The age floor is what makes vacuum safe to run
    * concurrently with writers: a commit's files land BEFORE its
    * manifest publishes, so a freshly-landed unreferenced file may be
    * seconds from becoming referenced — deleting it would publish a
    * manifest pointing at nothing. Readers of retired versions fail
    * loudly on the missing manifest rather than half-reading deleted
    * files. */
  def vacuum(spark: SparkSession, path: String, keepVersions: Int = 1,
      minAgeMs: Long = vacuumMinAgeMs): Unit = {
    require(keepVersions >= 1, "must keep at least one version")
    val fs = new HPath(path).getFileSystem(conf(spark))
    val vs = versions(spark, path)
    if (vs.isEmpty) return
    val (drop, keep) = vs.splitAt(math.max(0, vs.length - keepVersions))
    val live = keep.flatMap { v =>
      val m = readManifest(fs, path, v)
      m.files ++ m.changeFiles // kept versions' CDF files stay readable
    }.toSet
    val cutoff = System.currentTimeMillis() - minAgeMs
    // delete old-enough unreferenced data FILES — RECURSIVELY, because
    // partitioned commits (D276/D284) land files under __graft_pv=*
    // subdirs (round-13 advisory: the one-level walk never saw them,
    // leaking every replaced partitioned file). Rel keys use the path
    // suffix below data/, matching the manifest's file lines. Writer-
    // temp subtrees (_temporary, dot-prefixed) are left to their
    // writer; empty-dir races with a concurrent writer are benign, so
    // delete results are ignored rather than required.
    val dataDir = new HPath(path, "data")
    if (fs.exists(dataDir)) {
      fs.listStatus(dataDir).foreach { cd =>
        if (cd.isDirectory) {
          val base = cd.getPath.toUri.getPath
          val it = fs.listFiles(cd.getPath, true)
          while (it.hasNext) {
            val f = it.next()
            val p = f.getPath.toUri.getPath
            val below = p.substring(math.min(base.length + 1, p.length))
            val inWriterTemp = below.split("/").exists(seg =>
              seg == "_temporary" || seg.startsWith("."))
            if (f.isFile && !inWriterTemp) {
              val rel = s"data/${cd.getPath.getName}/$below"
              if (!live.contains(rel) && f.getModificationTime < cutoff)
                fs.delete(f.getPath, false)
            }
          }
          // drop drained partition-value subdirs bottom-up, then the
          // commit dir itself; never touch writer-temp subtrees
          def dropIfDrained(d: HPath): Boolean = {
            if (d.getName == "_temporary" || d.getName.startsWith("."))
              false
            else {
              val kids = fs.listStatus(d)
              val drained =
                kids.forall(k => k.isDirectory && dropIfDrained(k.getPath))
              if (drained) { fs.delete(d, false); true } else false
            }
          }
          dropIfDrained(cd.getPath)
          ()
        }
      }
    }
    // reclaim temp manifests orphaned by writer crashes (tryPublish
    // deletes its temp only on a LOST race; a crash before rename
    // leaves it forever otherwise)
    fs.listStatus(manifestDir(path)).foreach { f =>
      if (f.isFile && f.getPath.getName.startsWith(".v") &&
          f.getModificationTime < cutoff)
        fs.delete(f.getPath, false)
    }
    drop.foreach(v => fs.delete(manifestPath(path, v), false))
    // retire the log's hint window with the manifests (keep is
    // non-empty: keepVersions >= 1)
    writeHint(fs, path, keep.head, keep.last)
  }
}
