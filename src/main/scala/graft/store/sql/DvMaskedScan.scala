package graft.store.sql

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, Statistics, SupportsReportStatistics}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.vectorized.{ColumnarBatch, ColumnVector}

/** Merge-on-read masking for every store read (the Scala
  * [[graft.store.Catalog]] readers and the SQL front door share this
  * scan): wraps the parquet scan so rows a deletion vector marked dead
  * never surface, Delta-DV-style.
  *
  * Mechanics: input partitions are re-planned ONE FILE PER PARTITION
  * whenever the snapshot carries any DV (per-row file attribution is
  * what makes per-file masks applicable — a packed multi-file partition
  * doesn't delimit files in its row stream), then each partition whose
  * file has a DV reads through a filter on the surrogate-id column
  * (binary search in the sorted dead-id array). Which partition holds
  * which manifest entry is decided once, on the driver, by
  * [[graft.store.StoreIO.scannedToRel]] over the exact file name the
  * partition's reader sees; a DV'd entry that no partition maps to
  * fails loudly instead of serving its dead rows.
  *
  * The scan stays VECTORIZED: when the inner parquet factory reads
  * columnar, the mask computes one selection array per
  * [[ColumnarBatch]] (survivor row ordinals) and serves the batch
  * through zero-copy [[SelectedColumnVector]] views — the positional-
  * delete shape every columnar engine uses. A batch with no dead rows
  * passes through untouched, so the common mostly-clean case costs one
  * binary-search pass over the id vector. Row-based inners (nested
  * types, vectorization off) keep the row filter. The id column is
  * forced into the read schema by [[GraftScanBuilder]] when DVs exist;
  * Spark's projection above the scan restores the user's column
  * list. Statistics pass through from the inner scan, so a masked
  * table still plans broadcast joins by its file sizes. */
private[store] final class DvMaskedScan(
    private[store] val inner: Scan with SupportsReportStatistics,
    /** Sorted dead ids per DV'd file, keyed by manifest-relative path. */
    dvByRel: Map[String, Array[Long]],
    /** Scanned file name -> manifest-relative path. */
    toRel: String => String, idCol: String)
    extends Scan with Batch with SupportsReportStatistics {

  override def readSchema(): StructType = inner.readSchema()
  override def description(): String =
    s"${inner.description()} [graft: ${dvByRel.size} deletion-" +
      "vector-masked file(s)]"
  override def toBatch: Batch = this
  override def estimateStatistics(): Statistics = inner.estimateStatistics()

  private lazy val partitions: Array[InputPartition] =
    inner.toBatch.planInputPartitions().flatMap {
      case fp: FilePartition if fp.files.length > 1 =>
        // split so each partition is attributable to one file
        fp.files.zipWithIndex.map { case (f, i) =>
          FilePartition(fp.index * 4096 + i, Array(f))
        }.toSeq
      case p => Seq(p)
    }

  /** Dead ids keyed by the scanned name of each partition's file. */
  private lazy val deadByScanned: Map[String, Array[Long]] = {
    val relOf: Map[String, String] = partitions.iterator
      .collect { case fp: FilePartition => fp.files.iterator }.flatten
      .map(_.urlEncodedPath).toSet[String].map(s => s -> toRel(s)).toMap
    val unmapped = dvByRel.keySet -- relOf.values
    if (unmapped.nonEmpty)
      throw new IllegalStateException(
        s"deletion-vector attribution failed: no scanned file maps to " +
          s"'${unmapped.head}'")
    relOf.flatMap { case (s, rel) => dvByRel.get(rel).map(s -> _) }
  }

  override def planInputPartitions(): Array[InputPartition] = partitions

  override def createReaderFactory(): PartitionReaderFactory =
    new DvMaskedReaderFactory(inner.toBatch.createReaderFactory(),
      deadByScanned, readSchema().fieldIndex(idCol))
}

private[sql] final class DvMaskedReaderFactory(
    inner: PartitionReaderFactory, deadByScanned: Map[String, Array[Long]],
    idOrdinal: Int) extends PartitionReaderFactory {

  private def deadFor(p: InputPartition): Option[Array[Long]] = p match {
    case fp: FilePartition =>
      // single-file partitions by construction (see planInputPartitions)
      fp.files.headOption.flatMap(f => deadByScanned.get(f.urlEncodedPath))
    case _ => None
  }

  // Spark requires every partition of one scan to agree row-vs-columnar
  // ("Cannot mix row-based and columnar input partitions"); delegating
  // preserves the inner parquet factory's (conf-and-schema-based,
  // partition-independent) answer, and the mask itself is columnar via
  // selection vectors — see the class scaladoc
  override def supportColumnarReads(p: InputPartition): Boolean =
    inner.supportColumnarReads(p)

  override def createColumnarReader(p: InputPartition)
      : PartitionReader[ColumnarBatch] = {
    val r = inner.createColumnarReader(p)
    deadFor(p) match {
      case None => r
      case Some(dead) => new PartitionReader[ColumnarBatch] {
        override def next(): Boolean = r.next()
        override def get(): ColumnarBatch = {
          val b = r.get()
          val idVec = b.column(idOrdinal)
          val n = b.numRows()
          val sel = new Array[Int](n)
          var k = 0
          var i = 0
          while (i < n) {
            if (java.util.Arrays.binarySearch(dead, idVec.getLong(i)) < 0) {
              sel(k) = i; k += 1
            }
            i += 1
          }
          if (k == n) b // no dead rows in this batch: zero cost
          else {
            val vecs = new Array[ColumnVector](b.numCols())
            var c = 0
            while (c < vecs.length) {
              vecs(c) = new SelectedColumnVector(b.column(c), sel)
              c += 1
            }
            new ColumnarBatch(vecs, k)
          }
        }
        override def close(): Unit = r.close()
      }
    }
  }

  override def createReader(p: InputPartition)
      : PartitionReader[InternalRow] = {
    val r = inner.createReader(p)
    deadFor(p) match {
      case None => r
      case Some(dead) => new PartitionReader[InternalRow] {
        private var cur: InternalRow = _
        override def next(): Boolean = {
          while (r.next()) {
            val row = r.get()
            if (java.util.Arrays.binarySearch(dead,
                row.getLong(idOrdinal)) < 0) {
              cur = row
              return true
            }
          }
          false
        }
        override def get(): InternalRow = cur
        override def close(): Unit = r.close()
      }
    }
  }
}
