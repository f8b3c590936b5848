package graft.sources

import java.util
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSourceV2 connector for the Census-API source family (SURVEY §2.1
  * S1–S4): `spark.read.format("graft.sources.CensusDataSource")
  * .option("payload", id).load()`.
  *
  * Planning sizes the scan to the session, not to the states: one input
  * partition per core (`min(#states, defaultParallelism)`), the sorted
  * state codes dealt round-robin over them. The reference fans out one
  * fetch per state over a thread pool (`src/census_pipeline.py:279-322`);
  * here the task scheduler is the pool, and since Spark never runs more
  * than one task per core at a time, a task per state would add only
  * per-task set-up (task deserialization, per-task aggregation codegen
  * downstream) without fetching any faster. Round-robin over sorted codes
  * is deterministic and needs no size estimate, which an HTTP transport
  * could not give before fetching. All columns land as strings (the API's
  * contract); numeric coercion stays a downstream projection
  * (`Pipeline.parseApiResponse` semantics).
  *
  * Transport is pluggable through [[CensusPayloads]]: this environment is
  * zero-egress, so tests register in-memory payloads; a production
  * deployment replaces the registry lookup in [[CensusPartitionReader]]
  * with an HTTP GET wrapped by [[CensusApi.withRetry]] (the executable
  * retry/backoff/rate-limit policy), keeping every planning/partitioning
  * piece unchanged. The per-state retry stays inside the reader; a task
  * that still fails is retried by Spark as a whole, which re-fetches every
  * state of its group. */
class CensusDataSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    CensusPayloads.schema(options.get("payload"))
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new CensusTable(properties.get("payload"), schema)
}

class CensusTable(payloadId: String, tschema: StructType) extends Table with SupportsRead {
  override def name(): String = s"census($payloadId)"
  override def schema(): StructType = tschema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with Scan with Batch {
      override def build(): Scan = this
      override def readSchema(): StructType = tschema
      override def toBatch: Batch = this
      override def planInputPartitions(): Array[InputPartition] = {
        val states = CensusPayloads.states(payloadId).sorted
        val n = math.min(states.size,
          SparkSession.active.sparkContext.defaultParallelism)
        Array.tabulate[InputPartition](n)(i =>
          CensusStatesPartition(payloadId, (i until states.size by n).map(states)))
      }
      override def createReaderFactory(): PartitionReaderFactory =
        new CensusReaderFactory(tschema.fields.length)
    }
}

/** One partition = one task's group of states, fetched one after another. */
case class CensusStatesPartition(payloadId: String, states: Seq[String]) extends InputPartition

class CensusReaderFactory(nCols: Int) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[CensusStatesPartition]
    new CensusPartitionReader(p.payloadId, p.states, nCols)
  }
}

class CensusPartitionReader(payloadId: String, states: Seq[String], nCols: Int)
    extends PartitionReader[InternalRow] {
  // production: HTTP GET happens here, on the executor, per state, each
  // fetched only when the previous state's rows are consumed
  private val it = states.iterator.flatMap(CensusPayloads.rows(payloadId, _))
  private var current: Seq[String] = _
  override def next(): Boolean = { val h = it.hasNext; if (h) current = it.next(); h }
  override def get(): InternalRow =
    InternalRow.fromSeq(current.take(nCols).map(v =>
      if (v == null) null else UTF8String.fromString(v)))
  override def close(): Unit = ()
}

/** In-JVM payload registry — the test transport. Keyed by payload id;
  * holds the header (schema) and per-state rows. */
object CensusPayloads {
  private val reg = new java.util.concurrent.ConcurrentHashMap[
    String, (Seq[String], Map[String, Seq[Seq[String]]])]()

  def register(id: String, header: Seq[String],
               rowsByState: Map[String, Seq[Seq[String]]]): Unit =
    reg.put(id, (header, rowsByState))

  def schema(id: String): StructType = {
    val (header, _) = lookup(id)
    StructType(header.map(StructField(_, StringType, nullable = true)))
  }
  def states(id: String): Seq[String] = lookup(id)._2.keys.toSeq
  def rows(id: String, state: String): Seq[Seq[String]] =
    lookup(id)._2.getOrElse(state, Seq.empty)

  private def lookup(id: String) = {
    require(id != null, "census source requires .option(\"payload\", <id>)")
    val v = reg.get(id)
    require(v != null, s"unknown census payload id: $id (register it first)")
    v
  }
}
