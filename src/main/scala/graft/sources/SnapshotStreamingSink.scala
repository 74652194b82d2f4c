package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{DataWriter, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types._

/** `writeStream.toTable("snap.t")` — the NATIVE Structured Streaming
  * sink for snapshot tables (r18 verdict #6: exactly-once ingest through
  * the builtin API shape, no foreachBatch plumbing).
  *
  * Exactly-once rides the manifest, which is already the table's atomic
  * commit point:
  *
  *  1. executor writers land plain parquet into a per-(query, epoch)
  *     STAGING dir — task retries/speculation write distinct task-id
  *     files, and only files named in COMMITTED task messages move on;
  *  2. the driver's epoch commit moves exactly those files into a final
  *     dir whose name is DETERMINISTIC in (queryId, epochId) — queryId
  *     is checkpoint-stable across restarts, so a replayed epoch after
  *     a crash maps to the same dir;
  *  3. the dir folds into the manifest through the same bounded OCC
  *     loop every writer uses. Replay detection is "dir already in the
  *     head manifest" — the one fact that IS the committed state, so a
  *     re-delivered epoch commits nothing and duplicates nothing.
  *
  * A crash between dir-finalize and manifest-fold leaves a finalized
  * dir no manifest references; the replay deletes and re-lands it.
  * CHECK constraints validate the LANDED bytes before the fold (the
  * ingestBatch re-delivery rule). Append-only: complete/truncate modes
  * refuse. At 100 TB each epoch is one manifest commit + O(epoch) data
  * bytes — the same shape as the foreachBatch path, now under the
  * builtin API. */
final class SnapshotStreamingWrite(base: String, queryId: String,
    schema: StructType, renames: Map[String, String],
    partSpec: Seq[PartitionSpec.PartField])
    extends StreamingWrite {

  private val qid = queryId.replaceAll("[^0-9a-fA-F]", "").take(12)
  private def stagingDir(epochId: Long) =
    s"$base/_streamstage/$qid/e$epochId"
  /** Deterministic per-(query, epoch) dir prefix — replay detection
    * keys on it. Partitioned tables land one dir per tuple under a
    * tuple-content-derived suffix. */
  private[sources] def epochPrefix(epochId: Long) =
    s"$base/_streamepoch_${qid}_e$epochId"

  private def isEpochDir(d: String, prefix: String): Boolean =
    SnapshotStreamingWrite.isEpochDir(d, prefix)

  // fail at QUERY START, not first row: the Group-API writer covers the
  // flat primitive surface snapshot schemas use; anything else refuses
  SnapshotParquetOut.messageType(schema, renames): Unit
  for (f <- partSpec)
    PartitionSpec.validate(f, schema)

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : StreamingDataWriterFactory =
    new SnapshotEpochWriterFactory(stagingPrefix = s"$base/_streamstage/$qid",
      schema, renames, partSpec, KvTextSource.sessionConfMap())

  private def fs(p: Path) = p.getFileSystem(
    SparkSession.active.sparkContext.hadoopConfiguration)

  private def tupleSuffix(tuple: Seq[String]): String =
    if (tuple.isEmpty) ""
    else "_p" + java.security.MessageDigest.getInstance("SHA-256")
      .digest(tuple.mkString("\u0000").getBytes("UTF-8"))
      .take(6).map(b => f"${b & 0xff}%02x").mkString

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val prefix = epochPrefix(epochId)
    val f = fs(new Path(base))
    def sweepStaging(): Unit = {
      f.delete(new Path(stagingDir(epochId)), true)
      try f.delete(new Path(s"$base/_streamstage/$qid"), false)
      catch { case _: java.io.IOException => () }
      ()
    }
    val head0 = SnapshotTable.headVersion(spark, base)
    require(head0 >= 1,
      s"no committed snapshot under $base — CREATE TABLE first")
    if (SnapshotTable.manifest(spark, base, head0).dataDirs
        .exists(isEpochDir(_, prefix))) {
      sweepStaging() // replayed epoch: already committed, change nothing
      return
    }
    val files = messages.toSeq.flatMap {
      case m: SnapshotEpochFilesMsg => m.files
      case m: SnapshotEpochFileMsg => Seq(m)
      case _ => Nil
    }.filter(_.rows > 0)
    if (files.isEmpty) { sweepStaging(); return } // empty epoch
    // one final dir per transform tuple (every dir of the epoch folds
    // in ONE manifest commit — the atomicity replay detection needs);
    // a prior attempt that died between finalize and fold left dirs no
    // manifest references — rebuild them from this attempt's files
    val byTuple = files.groupBy(_.tuple).toSeq.sortBy(_._1.mkString("|"))
    // a 48-bit suffix collision between two tuples in ONE epoch is
    // ~impossible, but silently merging two partitions' rows under one
    // tuple would be wrong-answer territory — refuse loudly instead
    require(byTuple.map(t => tupleSuffix(t._1)).distinct.size ==
      byTuple.size,
      s"tuple-suffix hash collision within epoch $epochId — widen " +
        "tupleSuffix")
    val landed = byTuple.map { case (tuple, ms) =>
      val dir = prefix + tupleSuffix(tuple)
      val dp = new Path(dir)
      if (f.exists(new Path(dp, "_SUCCESS"))) {
        // a concurrent winner already finalized this epoch dir
        // (deterministic path): leave its attested bytes alone — a
        // delete/re-create here opens a missing-dir window for readers
        // of an already-committed manifest (r19 advice). The row count
        // is epoch-content-determined, so this attempt's own tally is
        // the same number the winner folded.
        (dir, tuple, ms.map(_.rows).sum)
      } else {
        if (f.exists(dp)) f.delete(dp, true) // died mid-finalize: rebuild
        f.mkdirs(dp)
        for (m <- ms) {
          val src = new Path(m.path)
          require(f.rename(src, new Path(dp, src.getName)),
            s"epoch finalize rename failed: ${m.path} -> $dir")
        }
        f.create(new Path(dp, "_SUCCESS"), true).close()
        (dir, tuple, ms.map(_.rows).sum)
      }
    }
    sweepStaging()
    // fold through the OCC loop, re-validating CHECKs against the
    // LANDED bytes (deterministic however the plan behaved) and
    // refusing loudly on mid-stream schema-evolution drift
    var validated: Seq[(String, String)] = null
    var attempt = 0
    while (attempt < 20) {
      attempt += 1
      val head = SnapshotTable.headVersion(spark, base)
      val prior = SnapshotTable.manifest(spark, base, head)
      if (prior.dataDirs.exists(isEpochDir(_, prefix))) return
      require(prior.renames == renames,
        s"schema evolution landed while streaming query $qid was " +
          "writing — restart the query against the current table state")
      require(prior.partSpec == partSpec,
        s"the partition spec changed while streaming query $qid was " +
          "writing — restart the query against the current table state")
      if (prior.checks.nonEmpty && prior.checks != validated) {
        SnapshotTable.enforceChecks(spark, prior,
          spark.read.parquet(landed.map(_._1): _*),
          s"stream epoch $epochId"): Unit
        validated = prior.checks
      }
      try {
        SnapshotTable.commit(spark, base, head + 1, prior.copy(
          dataDirs = prior.dataDirs ++ landed.map(_._1),
          rowCounts = prior.rowCounts ++
            landed.map(l => l._1 -> l._3),
          partVals = prior.partVals ++ landed.collect {
            case (d, t, _) if t.nonEmpty => d -> t }))
        return
      } catch {
        case _: SnapshotTable.CommitConflict if attempt < 20 => ()
      }
    }
    throw new IllegalStateException(
      s"stream epoch $epochId could not claim a version under $base " +
        "after 20 attempts — a committer is racing every retry")
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val f = fs(new Path(base))
    f.delete(new Path(stagingDir(epochId)), true): Unit
  }
}

/** `tuple`: the file's rendered partition values (empty on
  * unpartitioned tables) — the epoch commit groups files by it. */
final case class SnapshotEpochFileMsg(path: String, rows: Long,
    tuple: Seq[String] = Nil)
    extends WriterCommitMessage

final case class SnapshotEpochFilesMsg(files: Seq[SnapshotEpochFileMsg])
    extends WriterCommitMessage

object SnapshotStreamingWrite {
  /** Is `d` one of epoch `prefix`'s final dirs? Exact match
    * (unpartitioned) or the tuple-suffixed form `prefix_p<hex>` —
    * NEVER a bare startsWith, which would let epoch 1's prefix claim
    * epoch 12's dirs and treat an uncommitted epoch as committed
    * under out-of-order replay (r19 advice). */
  private[sources] def isEpochDir(d: String, prefix: String): Boolean =
    d == prefix || d.startsWith(prefix + "_p")
}

final class SnapshotEpochWriterFactory(stagingPrefix: String,
    schema: StructType, renames: Map[String, String],
    partSpec: Seq[PartitionSpec.PartField],
    confMap: Map[String, String])
    extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new SnapshotEpochDataWriter(
      s"$stagingPrefix/e$epochId/part-$partitionId-$taskId",
      schema, renames, partSpec, confMap)
}

/** One task's parquet writers over the flat primitive surface (the
  * parquet-hadoop Group API — no Spark-internal writer machinery).
  * Lands the table's PHYSICAL column names directly, so rename-evolved
  * tables read the files through their normal name mapping. On a
  * partitioned table the task ROUTES rows: one lazily-opened writer per
  * transform tuple it observes (rendered with the same
  * [[PartitionSpec.render]] the pruning side uses — the property-spec'd
  * shared contract), each reporting its tuple in the commit message. */
final class SnapshotEpochDataWriter(filePrefix: String,
    schema: StructType, renames: Map[String, String],
    partSpec: Seq[PartitionSpec.PartField],
    confMap: Map[String, String])
    extends DataWriter[InternalRow] {
  import org.apache.parquet.example.data.simple.SimpleGroupFactory
  import org.apache.parquet.io.api.Binary

  private val msgType = SnapshotParquetOut.messageType(schema, renames)
  private val conf = KvTextSource.confFrom(confMap)
  private val factory = new SimpleGroupFactory(msgType)
  private val fieldIdx = partSpec.map(f => schema.fieldIndex(f.col))

  private final class TupleWriter(val tuple: Seq[String], seq: Int) {
    val file = s"$filePrefix-$seq.parquet"
    val writer = {
      org.apache.parquet.hadoop.example.GroupWriteSupport
        .setSchema(msgType, conf)
      org.apache.parquet.hadoop.example.ExampleParquetWriter
        .builder(org.apache.parquet.hadoop.util.HadoopOutputFile
          .fromPath(new Path(file), conf))
        .withConf(conf)
        .withType(msgType)
        .build()
    }
    var n = 0L
  }
  private val writers =
    scala.collection.mutable.LinkedHashMap.empty[Seq[String], TupleWriter]

  private def tupleOf(row: InternalRow): Seq[String] =
    partSpec.zip(fieldIdx).map { case (f, i) =>
      if (row.isNullAt(i)) PartitionSpec.NullValue
      else {
        val dt = schema.fields(i).dataType
        val raw: Any = dt match {
          case LongType | TimestampType => row.getLong(i)
          case IntegerType | DateType => row.getInt(i)
          case StringType => row.getUTF8String(i)
          case other => throw new IllegalStateException(
            s"unreachable partition source type $other")
        }
        PartitionSpec.render(f, dt, raw).getOrElse(
          throw new IllegalStateException(
            s"partition transform $f cannot render a ${dt.simpleString}"))
      }
    }

  override def write(row: InternalRow): Unit = {
    val t = tupleOf(row)
    val tw = writers.getOrElseUpdate(t, new TupleWriter(t, writers.size))
    val g = factory.newGroup()
    var i = 0
    while (i < schema.length) {
      if (!row.isNullAt(i)) {
        val name = msgType.getFieldName(i)
        schema.fields(i).dataType match {
          case LongType => g.add(name, row.getLong(i))
          case IntegerType => g.add(name, row.getInt(i))
          case DoubleType => g.add(name, row.getDouble(i))
          case BooleanType => g.add(name, row.getBoolean(i))
          case StringType =>
            g.add(name, Binary.fromString(row.getUTF8String(i).toString))
          case DateType => g.add(name, row.getInt(i))
          case TimestampType => g.add(name, row.getLong(i))
          case other => throw new IllegalStateException(
            s"unreachable: $other passed messageType validation")
        }
      }
      i += 1
    }
    tw.writer.write(g)
    tw.n += 1
  }

  override def commit(): WriterCommitMessage = {
    writers.values.foreach(_.writer.close())
    SnapshotEpochFilesMsg(writers.values.toSeq.map(tw =>
      SnapshotEpochFileMsg(tw.file, tw.n, tw.tuple)))
  }

  override def abort(): Unit = {
    for (tw <- writers.values) {
      tw.writer.close()
      val p = new Path(tw.file)
      p.getFileSystem(conf).delete(p, false): Unit
    }
  }

  override def close(): Unit = ()
}

/** StructType → parquet MessageType for the streaming writer: flat
  * primitives only (the snapshot hash-gate surface), every field
  * OPTIONAL (Spark projections are nullable by default), names mapped
  * to the table's frozen PHYSICAL names. */
private[sources] object SnapshotParquetOut {
  import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
  import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._

  def messageType(schema: StructType,
      renames: Map[String, String]): MessageType = {
    val b = Types.buildMessage()
    for (f <- schema.fields) {
      val name = renames.getOrElse(f.name, f.name)
      val t = f.dataType match {
        case LongType => Types.optional(INT64)
        case IntegerType => Types.optional(INT32)
        case DoubleType => Types.optional(DOUBLE)
        case BooleanType => Types.optional(BOOLEAN)
        case StringType => Types.optional(BINARY)
          .as(LogicalTypeAnnotation.stringType())
        case DateType => Types.optional(INT32)
          .as(LogicalTypeAnnotation.dateType())
        case TimestampType => Types.optional(INT64)
          .as(LogicalTypeAnnotation.timestampType(true,
            LogicalTypeAnnotation.TimeUnit.MICROS))
        case other => throw new IllegalArgumentException(
          s"streaming into a snapshot table supports flat primitive " +
            s"columns (long/int/double/boolean/string/date/timestamp); " +
            s"column ${f.name} is ${other.simpleString}")
      }
      b.addField(t.named(name))
    }
    b.named("graft_snapshot_epoch")
  }
}
