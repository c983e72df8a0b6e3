package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Result-table sinks (SURVEY.md §2.1 S2–S6/S9): the reference's MergeTree
  * result tables + NDJSON/TSV artifact files restated as partitioned
  * parquet datasets and line-oriented sinks.
  *
  *  - S2 idempotent DDL → the dataset is its directory; first write
  *    creates it, partition columns play the MergeTree ORDER BY role.
  *  - S3 `INSERT INTO … SELECT` → append.
  *  - S4 `ALTER TABLE … DELETE WHERE` + re-INSERT (the reference's
  *    crash-resume, §4.1) → DYNAMIC partition overwrite: rewriting one
  *    (generation, symbol, …) partition leaves every other partition
  *    untouched, and the write is atomic per partition (task commit
  *    protocol) — no flock, no line counting.
  *  - S5 TSV stdout sink → headered TSV directory.
  *  - S6/S9 NDJSON telemetry / JSONL artifacts → JSON-lines directory
  *    (each task file is a valid JSONL shard; appends are atomic at task
  *    granularity).
  *
  * At 100 TB the partition columns are the pruning axis: readers that
  * filter on them scan only matching directories.
  */
object ResultSink {

  /** S3: append rows to a partitioned result dataset (created on first use). */
  def append(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Append).partitionBy(partitionCols: _*).parquet(path)

  /** S4: overwrite ONLY the partitions present in `df` (dynamic mode) —
    * the idempotent re-run primitive. Other partitions survive. */
  def overwritePartitions(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** The one parquet reader of every lake, staged, index and result
    * table. Spark infers a parquet schema with a one-task job that reads
    * a footer, and it does so on every `spark.read.parquet`; this reader
    * lets Spark infer it once per JVM and passes the result as the read
    * schema afterwards, so later reads launch no job. Only the
    * `StructType` is kept, never a DataFrame: every read still builds a
    * fresh relation with fresh attribute ids, so a self-join of two reads
    * resolves as before.
    *
    * The memo is keyed by the qualified path and the session's
    * `spark.sql.parquet.*` / `spark.sql.legacy.parquet.*` confs (e.g.
    * nanosAsLong changes the inferred `ts` type). Each entry carries a
    * stamp, the (name, length, modification time) of every leaf data file
    * under the path, taken before inference; a read whose stamp differs
    * re-infers and replaces the entry, so there is one entry per distinct
    * (path, confs). Limit: a rewrite that keeps every file's name, length
    * and millisecond mtime is not detected. Spark's writers name part
    * files with a fresh UUID per write, and the fixture tools write to new
    * directories, so no writer in this program does that. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qp = fs.makeQualified(p)
    val st = try Some(stamp(fs, fs.getFileStatus(qp)))
      catch { case _: java.io.FileNotFoundException => None }
    val key = (qp.toString, spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
    }.toSeq.sorted)
    Option(schemas.get(key)) match {
      case Some((s, schema)) if st.contains(s) => spark.read.schema(schema).parquet(path)
      case _ =>
        // a missing path falls through to Spark, which names it
        val df = spark.read.parquet(path)
        st.foreach(s => schemas.put(key, (s, df.schema)))
        df
    }
  }

  private type Stamp = Seq[(String, Long, Long)]

  private val schemas = new java.util.concurrent.ConcurrentHashMap[
    (String, Seq[(String, String)]), (Stamp, StructType)]()

  /** The leaf data files under `s`, skipping the names Spark's file index
    * skips (`_SUCCESS`, `.crc`, `_temporary`, ...). */
  private def stamp(fs: FileSystem, s: FileStatus): Stamp = {
    def leaves(s: FileStatus): Iterator[FileStatus] =
      if (!s.isDirectory) Iterator(s)
      else fs.listStatus(s.getPath).iterator
        .filterNot(c => c.getPath.getName.startsWith("_") || c.getPath.getName.startsWith("."))
        .flatMap(leaves)
    leaves(s).map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).toSeq.sorted
  }

  /** S5: headered TSV (the sweep queries' stdout format). */
  def writeTsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("sep", "\t").option("header", "true").csv(path)

  /** multiLine so quoted embedded newlines (which writeTsv emits for
    * multi-line string values) parse back as ONE record — the default
    * line-oriented reader split such records mid-field into corrupt rows
    * (r13 review). Costs file-granular instead of line-granular read
    * parallelism, the correct trade for an artifact readback path. */
  def readTsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("sep", "\t").option("header", "true")
      .option("multiLine", "true")
      .option("inferSchema", "true").csv(path)

  /** S6/S9: JSON-lines telemetry/artifacts. ignoreNullFields=false: the
    * default DROPS null-valued keys per row, giving shards an unstable
    * key set — external JSONL consumers break on missing keys and a
    * shard whose rows are all-null for a column loses the column from
    * readJsonl's inferred schema entirely (r13 review). */
  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("ignoreNullFields", "false").json(path)

  def appendJsonl(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Append)
      .option("ignoreNullFields", "false").json(path)

  def readJsonl(spark: SparkSession, path: String): DataFrame =
    spark.read.json(path)

  /** S10: compressed JSONL artifacts. The reference brotli-compresses its
    * JSONL caches; Spark's line-reader splits and decompresses codec'd
    * JSONL transparently on read, so the capability is the codec'd
    * round-trip (gzip here — a brotli Hadoop codec would drop in the same
    * way, but no JVM brotli codec ships with Spark). Re-audited r13: the
    * container's only brotli surface is commons-compress's
    * BrotliCompressorInputStream WRAPPER, which is decompress-only and
    * itself requires the absent org.brotli:dec jar — there is no codec to
    * vendor without egress, so gzip remains the documented stand-in.
    * Re-audited r14: the container's only additions are the native
    * libbrotli{dec,enc,common}.so under the DRIVER-side miniconda tree
    * (Python brotlicffi) — no JVM binding jar, and hand-rolling an
    * incubator-FFM binding to a conda .so would be a fragile
    * environment-specific hack, not a portable codec. Re-audited r15:
    * aircompressor-2.0.3 (the one compression jar on the Spark
    * classpath) ships lz4/lzo/snappy/zstd only, and no brotli CLI is on
    * PATH (the conda man page is driver-side Python packaging debris) —
    * nothing new to vendor. Still carried. */
  def writeJsonlGz(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("ignoreNullFields", "false")
      .option("compression", "gzip").json(path)

  /** S7: Arrow IPC stream export (ref exports Arrow for the Python eval
    * layer; here each task writes one `part-N.arrows` IPC-stream shard —
    * the layout a downstream reader mmaps shard-parallel). Rows never
    * touch the driver: each partition converts its own InternalRows
    * through Spark's ArrowWriter in `batchRows` record batches. `dir`
    * must be storage every executor can reach (local[, NFS, fuse] here;
    * object storage via a channel provider at cluster scale). */
  def writeArrow(df: DataFrame, dir: String, batchRows: Int = 4096): Unit = {
    import org.apache.spark.sql.graftbridge.ArrowBridge
    val schema = df.schema
    // OVERWRITE semantics + attempt isolation (the other sinks get both
    // from Spark's commit protocol; this direct writer must provide its
    // own — r13 review): stale part-*.arrows from a previous export with
    // MORE partitions would otherwise survive next to the new shards and
    // be read as mixed old/new data, and a speculative duplicate attempt
    // writing the final name directly would interleave IPC bytes. Each
    // attempt writes a task-attempt-unique temp file and atomically
    // renames into place — attempts of one partition produce identical
    // bytes, so either rename winning is correct.
    val d = new java.io.File(dir)
    d.mkdirs()
    Option(d.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("part-") &&
        (f.getName.endsWith(".arrows") || f.getName.contains(".arrows.tmp-")))
      .foreach(_.delete())
    ArrowBridge.toRdd(df).foreachPartition { it =>
      if (it.hasNext) {
        val tc = org.apache.spark.TaskContext.get()
        val pid = tc.partitionId()
        val tmp = new java.io.File(
          s"$dir/part-$pid.arrows.tmp-${tc.taskAttemptId()}")
        val ch = new java.io.FileOutputStream(tmp).getChannel
        try ArrowBridge.writeIpcStream(it, schema, "UTC", batchRows, ch)
        finally ch.close()
        java.nio.file.Files.move(tmp.toPath,
          new java.io.File(s"$dir/part-$pid.arrows").toPath,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    }
  }
}
