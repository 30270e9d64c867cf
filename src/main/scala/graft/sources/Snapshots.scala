package graft.sources

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.parquet.schema.PrimitiveType
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructField, StructType}
import graft.Tables

/** Manifest-tracked versioned parquet table — the table-format core
  * (Delta/Iceberg-style) built from first principles: immutable data
  * files, a tiny text manifest per version listing exactly the files
  * that version comprises, copy-on-write commits that rewrite ONLY the
  * file groups containing changed keys and re-reference every untouched
  * file from the previous manifest. Reading "as of version N" is just
  * reading manifest N's file list — time travel without a table format
  * dependency (the reference README declares Delta but ships plain
  * parquet; SURVEY §0).
  *
  * Scale stance: the manifest is O(files) driver-side metadata — exactly
  * what a transaction log is; data moves only for the rewritten buckets
  * (here 1 of 8), so a commit's write amplification is proportional to
  * the touched key range, not the table size. At 100 TB the bucket count
  * grows and manifests move to their own metadata store, but the commit
  * protocol (write new files → write manifest last) is unchanged — the
  * manifest write IS the atomic commit point.
  */
object Snapshots {

  private def parquetFilesUnder(dir: File): Seq[String] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f)
      else Seq.empty
    walk(dir).map(_.getAbsolutePath).sorted
  }

  def manifestPath(root: String, version: Int): java.nio.file.Path =
    Paths.get(root, s"manifest_v$version.txt")

  private def writeManifest(root: String, version: Int, files: Seq[String]): Unit = {
    Files.write(manifestPath(root, version),
      files.mkString("\n").getBytes(StandardCharsets.UTF_8))
    ()
  }

  def readManifest(root: String, version: Int): Seq[String] =
    Files.readAllLines(manifestPath(root, version)).asScala.toSeq

  def schemaPath(root: String, version: Int): java.nio.file.Path =
    Paths.get(root, s"schema_v$version.json")

  private def writeSchema(root: String, version: Int, schema: StructType): Unit = {
    Files.write(schemaPath(root, version),
      schema.json.getBytes(StandardCharsets.UTF_8))
    ()
  }

  private def readSchema(root: String, version: Int): Option[StructType] = {
    val p = schemaPath(root, version)
    if (Files.exists(p))
      Some(DataType.fromJson(
        new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
        .asInstanceOf[StructType])
    else None
  }

  /** Per-file footer ↔ snapshot-schema compatibility, checked at
    * manifest read: a column the snapshot schema doesn't know, or a
    * column whose parquet physical type drifted, fails HERE with the
    * file and column named — not as an inscrutable cast error halfway
    * through a scan (a deleted-underneath file already fails loudly via
    * the manifest). Footer fields may be a SUBSET of the snapshot
    * schema: that's the legitimate ADD-COLUMN null-fill case.
    *
    * Cost discipline: footers are read DIRECTLY (parquet-mr, row groups
    * skipped — a few ms) rather than through a DataFrameReader, and a
    * validated (path, size, mtime, schema) identity is memoized
    * process-wide — data files are immutable under the commit protocol,
    * so re-validating an unchanged file on every read would buy nothing
    * and cost O(files) per query. At real scale the commit protocol
    * records each file's schema fingerprint in the manifest (Delta's
    * add-file entry), making this a pure metadata compare. */
  private val footerValidated =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Spark type → acceptable parquet physical types (None = not checked,
    * e.g. nested groups). Narrow on purpose: the check targets primitive
    * drift (a DOUBLE column replaced by BINARY strings), not full
    * logical-type equivalence. */
  private def allowedPrimitives(dt: DataType)
      : Option[Set[PrimitiveType.PrimitiveTypeName]] = {
    import PrimitiveType.PrimitiveTypeName._
    import org.apache.spark.sql.types._
    dt match {
      case LongType                            => Some(Set(INT64))
      case IntegerType | ShortType | ByteType  => Some(Set(INT32))
      case DateType                            => Some(Set(INT32))
      case DoubleType                          => Some(Set(DOUBLE))
      case FloatType                           => Some(Set(FLOAT))
      case StringType | BinaryType             => Some(Set(BINARY))
      case BooleanType                         => Some(Set(BOOLEAN))
      case TimestampType | TimestampNTZType    => Some(Set(INT64, INT96))
      case _: DecimalType =>
        Some(Set(INT32, INT64, BINARY, FIXED_LEN_BYTE_ARRAY))
      case _ => None
    }
  }

  private def assertFooterSchemas(s: SparkSession, files: Seq[String],
      expected: StructType, version: Int): Unit = {
    val want = expected.fields.map(f => f.name -> f.dataType).toMap
    val conf = s.sessionState.newHadoopConf()
    for (fp <- files) {
      val jf = new File(fp)
      val key = s"$fp|${jf.length}|${jf.lastModified}|${expected.json.hashCode}"
      if (!footerValidated.contains(key)) {
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(fp), conf))
        try {
          val msg = reader.getFileMetaData.getSchema
          msg.getFields.asScala.foreach { fld =>
            want.get(fld.getName) match {
              case None => throw new IllegalStateException(
                s"snapshot v$version: schema drift — file $fp carries " +
                  s"column '${fld.getName}' absent from the snapshot " +
                  "schema (file modified outside the commit protocol?)")
              case Some(dt) if fld.isPrimitive =>
                val actual = fld.asPrimitiveType().getPrimitiveTypeName
                allowedPrimitives(dt).foreach { ok =>
                  if (!ok.contains(actual)) throw new IllegalStateException(
                    s"snapshot v$version: schema drift — file $fp column " +
                      s"'${fld.getName}' is parquet $actual but the " +
                      s"snapshot schema says ${dt.simpleString}")
                }
              case _ => () // nested group vs complex type: not checked
            }
          }
        } finally reader.close()
        footerValidated.add(key); ()
      }
    }
  }

  /** Read the table as of a committed version: manifest N's files, no
    * directory listing, no partition inference — the file list is the
    * source of truth (so concurrently-written newer files are invisible).
    * If the version carries an evolved schema (schema_vN.json, written by
    * an ADD-COLUMN commit), the read applies it explicitly: data files
    * that predate the new column simply yield NULL for it — the same
    * read-time fill Delta/Iceberg perform from their log schema, so
    * schema evolution never rewrites untouched files. Every file's
    * footer is validated against the snapshot schema up front
    * (assertFooterSchemas) so tampered/drifted files fail loudly. */
  private val headSchemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  def readVersion(s: SparkSession, root: String, version: Int): DataFrame = {
    val files = readManifest(root, version)
    val declared = readSchema(root, version)
    if (files.nonEmpty) {
      // with no declared schema the first file's footer is the contract
      // the rest must match (what the unguarded read silently assumed);
      // memoized on the file's identity — immutable under the protocol
      val expected = declared.getOrElse {
        val hf = new File(files.head)
        headSchemaCache.computeIfAbsent(
          s"${files.head}|${hf.length}|${hf.lastModified}",
          _ => s.read.parquet(files.head).schema)
      }
      assertFooterSchemas(s, files, expected, version)
    }
    declared match {
      case Some(schema) => s.read.schema(schema).parquet(files: _*)
      case None         => s.read.parquet(files: _*)
    }
  }

  /** The demo table's bucketing rule — recomputed from the key on read
    * because partitionBy strips `bkt` from the data files and an explicit
    * file-list read performs no partition-path inference. Deterministic
    * key→bucket is what makes copy-on-write surgical: a predicate's
    * touched buckets are derivable without reading untouched files. */
  private def bucketOf(key: Column): Column = pmod(key, lit(8)).cast("int")

  /** Copy-on-write commit core for the SQL DML verbs: rows of version
    * `fromV` matching `pred` select the TOUCHED buckets; those buckets
    * are rewritten through `rewrite` (delete filters, update rewrites
    * columns); every untouched file is re-referenced from the previous
    * manifest. Write amplification is O(touched buckets), never O(table).
    * The new manifest (written LAST) is the atomic commit point. */
  private def commitCow(s: SparkSession, root: String, fromV: Int,
      pred: Column, rewrite: DataFrame => DataFrame): Int = {
    val cur = readVersion(s, root, fromV)
      .withColumn("bkt", bucketOf(col("o_orderkey")))
    val touched = cur.filter(pred).select("bkt").distinct()
      .collect().map(_.getInt(0)).sorted // ≤ bucket count — metadata scale
    commitFiles(s, root, fromV, touched,
      rewrite(cur.filter(col("bkt").isInCollection(touched))))
  }

  /** Shared commit tail: write the rewritten buckets as data_v{N+1},
    * re-reference every untouched file, carry the version schema, and
    * write the manifest LAST (the atomic commit point). */
  private def commitFiles(s: SparkSession, root: String, fromV: Int,
      touched: Array[Int], newData: DataFrame): Int = {
    val toV = fromV + 1
    val touchedFiles: String => Boolean =
      f => touched.exists(b => f.contains(s"bkt=$b/") || f.contains(s"bkt=$b${File.separator}"))
    newData
      .repartition(math.max(1, touched.length), col("bkt"))
      .write.mode(SaveMode.Overwrite).partitionBy("bkt")
      .parquet(s"$root/data_v$toV")
    val carried = readManifest(root, fromV).filterNot(touchedFiles)
    readSchema(root, fromV).foreach(writeSchema(root, toV, _))
    writeManifest(root, toV,
      carried ++ parquetFilesUnder(new File(s"$root/data_v$toV")))
    toV
  }

  /** SQL `MERGE INTO t USING src ON t.key = src.key WHEN MATCHED THEN
    * UPDATE SET * WHEN NOT MATCHED THEN INSERT *` as a copy-on-write
    * commit. Touched buckets derive from the SOURCE keys (matched rows
    * to replace and new rows both land where their key hashes), so the
    * write amplification is proportional to the changeset's key spread —
    * the same property Delta's file-pruning MERGE optimizes for. */
  def commitMerge(s: SparkSession, root: String, fromV: Int,
      source: DataFrame, key: String = "o_orderkey"): Int = {
    val src = source.withColumn("bkt", bucketOf(col(key)))
    val touched = src.select("bkt").distinct()
      .collect().map(_.getInt(0)).sorted
    val cur = readVersion(s, root, fromV)
      .withColumn("bkt", bucketOf(col(key)))
    val kept = cur
      .filter(col("bkt").isInCollection(touched))
      .join(src.select(col(key).as("__merge_key")),
        col(key) === col("__merge_key"), "left_anti")
    commitFiles(s, root, fromV, touched, kept.unionByName(src))
  }

  /** SQL `DELETE FROM t WHERE pred` as a copy-on-write commit. */
  def commitDelete(s: SparkSession, root: String, fromV: Int,
      pred: Column): Int =
    commitCow(s, root, fromV, pred, _.filter(!pred))

  /** SQL `UPDATE t SET col = expr WHERE pred` as a copy-on-write commit:
    * non-matching rows in a touched bucket are carried into the new file
    * unchanged. */
  def commitUpdate(s: SparkSession, root: String, fromV: Int,
      pred: Column, set: (String, Column)): Int =
    commitCow(s, root, fromV, pred,
      df => df.withColumn(set._1, when(pred, set._2).otherwise(col(set._1))))

  /** SQL `ALTER TABLE t ADD COLUMN` as a METADATA-ONLY commit: same file
    * list as the previous version, evolved schema in schema_vN.json. Every
    * existing row reads the new column as NULL until a later COW commit
    * populates it — zero data movement, like Delta's log-schema change. */
  def commitAddColumn(s: SparkSession, root: String, fromV: Int,
      name: String, dataType: DataType): Int = {
    val toV = fromV + 1
    val base = readSchema(root, fromV)
      .getOrElse(readVersion(s, root, fromV).schema)
    writeSchema(root, toV,
      StructType(base.fields :+ StructField(name, dataType, nullable = true)))
    writeManifest(root, toV, readManifest(root, fromV))
    toV
  }

  /** Change-data-feed read between two committed versions (Delta CDF /
    * Iceberg changelog-scan semantics, rebuilt from the manifests): emit
    * one row per changed key, tagged `insert` / `delete` /
    * `update_preimage` / `update_postimage`.
    *
    * The scale property is that NO full-table diff runs: the two
    * manifests are compared as file lists (driver-side metadata), and
    * only the file groups present in exactly one manifest are read —
    * every file carried by reference between the versions is untouched
    * data and provably contributes no change. A COW commit touching 1 of
    * 8 buckets makes the CDF read 2/8 of the table's files (old + new
    * image of that bucket) regardless of table size; at 100 TB that is
    * the difference between a changelog and a re-scan. Rows that a
    * bucket rewrite carried unchanged join equal on both sides and are
    * dropped (`nochange` filter) — the exact compare is confined to the
    * changed buckets.
    *
    * PRECONDITION: `key` must be unique within each version of the
    * changed buckets (true for any primary-keyed table; commitMerge
    * enforces it by anti-joining before union). A duplicate key would
    * fan out the full-outer join and fabricate spurious pre/post pairs,
    * so each side carries a raise_error guard — a window count over the
    * same key partitioning the join already requires, no extra shuffle
    * beyond the changed-bucket reads. */
  def changeFeed(s: SparkSession, root: String, fromV: Int, toV: Int,
      key: String = "o_orderkey"): DataFrame = {
    val fromFiles = readManifest(root, fromV)
    val toFiles = readManifest(root, toV)
    val removed = fromFiles.filterNot(toFiles.toSet)
    val added = toFiles.filterNot(fromFiles.toSet)
    def side(files: Seq[String], v: Int): DataFrame = {
      val schema = readSchema(root, v)
      if (files.isEmpty) // metadata-only delta (e.g. ADD COLUMN): no rows
        s.createDataFrame(
          s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          schema.getOrElse(readVersion(s, root, v).schema))
      else schema match {
        case Some(sch) => s.read.schema(sch).parquet(files: _*)
        case None      => s.read.parquet(files: _*)
      }
    }
    val oldDf = side(removed, fromV)
    val newDf = side(added, toV)
    // compare on the columns both versions share — an evolved column
    // existing only in `toV` can't distinguish update from carry for
    // pre-evolution rows, so it rides along in the images but doesn't
    // drive classification
    val valueCols = oldDf.columns.filter(_ != key)
      .intersect(newDf.columns.filter(_ != key)).toSeq
    // duplicate-key guard: count over the key's own hash partitioning
    // (the distribution the join needs anyway); fires lazily inside the
    // same scan, failing the read instead of mis-classifying changes
    def uniqueKeyed(df: DataFrame, kAlias: String, vAlias: String,
        sideName: String): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col(key))
      df.select(col(key), struct(valueCols.map(col): _*).as(vAlias))
        .withColumn("__n", count(lit(1)).over(w))
        .select(
          when(col("__n") > 1, raise_error(concat(
            lit(s"changeFeed: duplicate key in $sideName changed buckets: "),
            col(key).cast("string"))))
            .otherwise(col(key)).as(kAlias),
          col(vAlias))
    }
    val o = uniqueKeyed(oldDf, "__ko", "__vo", s"v$fromV")
    val n = uniqueKeyed(newDf, "__kn", "__vn", s"v$toV")
    def entry(ct: String, k: Column, v: Column): Column =
      struct((lit(ct).as("change_type") +: k.as(key) +:
        valueCols.map(c => v.getField(c).as(c))): _*)
    // one equi-join over the changed buckets; updates expand to a
    // pre/post image pair via a typed array + explode (codegen-friendly,
    // no second pass). The `nochange` sentinel keeps every when-branch
    // the same array type; carried-unchanged rows are filtered out.
    o.join(n, col("__ko") === col("__kn"), "full_outer")
      .select(explode(
        when(col("__ko").isNull,
          array(entry("insert", col("__kn"), col("__vn"))))
        .when(col("__kn").isNull,
          array(entry("delete", col("__ko"), col("__vo"))))
        .when(!(col("__vo") <=> col("__vn")),
          array(entry("update_preimage", col("__ko"), col("__vo")),
                entry("update_postimage", col("__kn"), col("__vn"))))
        .otherwise(array(entry("nochange", col("__ko"), col("__vo")))))
        .as("__c"))
      .select("__c.*")
      .filter(col("change_type") =!= "nochange")
  }

  /** Highest committed version = highest manifest on disk (the manifest
    * write is the commit point, so this is the serializable read edge). */
  def latestVersion(root: String): Int =
    new File(root).listFiles()
      .map(_.getName)
      .collect { case s if s.startsWith("manifest_v") =>
        s.stripPrefix("manifest_v").stripSuffix(".txt").toInt }
      .max

  /** `VACUUM RETAIN version >= keepFrom`: physically delete every data
    * file referenced ONLY by manifests older than `keepFrom`, and the
    * expired manifests/schemas themselves, so expired time travel fails
    * LOUDLY (missing manifest) instead of reading half-vacuumed data.
    * Files shared with any retained version survive — reachability is
    * computed over the union of retained manifests, exactly Delta/
    * Iceberg VACUUM semantics. Returns the number of data files removed.
    * Metadata-scale work: set difference over file lists, no data read. */
  def vacuum(root: String, keepFrom: Int): Int = {
    val latest = latestVersion(root)
    require(keepFrom <= latest, s"keepFrom $keepFrom beyond latest $latest")
    val live = (keepFrom to latest)
      .flatMap(v => readManifest(root, v)).toSet
    val expired = (1 until keepFrom)
      .flatMap(v => readManifest(root, v))
      .distinct.filterNot(live)
    expired.foreach(f => Files.deleteIfExists(Paths.get(f)))
    (1 until keepFrom).foreach { v =>
      Files.deleteIfExists(manifestPath(root, v))
      Files.deleteIfExists(schemaPath(root, v))
      ()
    }
    expired.size
  }

  /** Build the demo table: v1 = orders(status F) bucketed 8 ways by key;
    * v2 = copy-on-write commit doubling o_totalprice for keys % 40 == 0.
    * All such keys live in bucket 0 (40 is a multiple of 8), so the
    * commit rewrites exactly one bucket and re-references the other 7
    * file groups from v1's manifest. Returns the table root. */
  def buildDemoTable(s: SparkSession, dir: String,
      sub: String = "time_travel"): String = {
    val rootF = new File(s"${Tables.scratchRoot}/$sub")
    Tables.rmTree(rootF)
    rootF.mkdirs()
    val root = rootF.getAbsolutePath

    val base = Tables.load(s, dir, "orders")
      .filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey"), col("o_totalprice"))
      .withColumn("bkt", pmod(col("o_orderkey"), lit(8)).cast("int"))

    // v1: full write, one dir per bucket (the rewrite unit)
    base.repartition(8, col("bkt"))
      .write.mode(SaveMode.Overwrite).partitionBy("bkt").parquet(s"$root/data_v1")
    writeManifest(root, 1, parquetFilesUnder(new File(s"$root/data_v1")))

    // v2 commit: rewrite bucket 0 only (all changed keys hash there) —
    // unchanged bucket-0 rows are carried into the new file; buckets 1-7
    // are reused by reference
    base.filter(col("bkt") === 0)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 40 === 0, col("o_totalprice") * 2)
          .otherwise(col("o_totalprice")))
      .repartition(1)
      .write.mode(SaveMode.Overwrite).partitionBy("bkt").parquet(s"$root/data_v2")
    val carried = readManifest(root, 1).filterNot(_.contains("bkt=0"))
    writeManifest(root, 2,
      carried ++ parquetFilesUnder(new File(s"$root/data_v2")))
    root
  }
}
