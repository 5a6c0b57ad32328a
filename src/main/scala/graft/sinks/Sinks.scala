package graft.sinks

import org.apache.spark.sql.{DataFrame, Row}
import scala.collection.concurrent.TrieMap

/** Pluggable KV contract — the shape of the reference's Redis SET
  * sink (reference sinkTest/RedisSinkTest.scala:158: one SET per
  * record, last write wins) and of the JDBC upsert sink
  * (JdbcSinkTest.scala:1042 `INSERT ... ON DUPLICATE KEY UPDATE`-style
  * query-then-insert-or-update). Implementations must be idempotent
  * under replay: re-putting the same (key, value) is a no-op — that,
  * plus checkpointed offsets, is Spark's exactly-once sink story. */
trait KvStore extends Serializable {
  def put(key: String, value: String): Unit
  def get(key: String): Option[String]
  def size: Int
}

/** Pluggable doc-index contract — the reference's ES sink
  * (sinkTest/EsSinkTest.scala:977: one indexed doc per record). */
trait DocStore extends Serializable {
  def index(id: String, doc: Map[String, String]): Unit
  def get(id: String): Option[Map[String, String]]
  def size: Int
}

/** In-JVM stores for specs and local mode. A process-wide registry
  * keyed by name makes executor-side closures (foreachPartition on
  * local[n] threads) and the driver-side spec observe the same store;
  * on a real cluster these become Redis/ES/JDBC-backed impls — the
  * operator code below only touches the trait. */
object StoreRegistry {
  private val kvs = TrieMap.empty[String, TrieMap[String, String]]
  private val docs = TrieMap.empty[String, TrieMap[String, Map[String, String]]]

  def kv(name: String): KvStore = new KvStore {
    private def m = kvs.getOrElseUpdate(name, TrieMap.empty)
    def put(key: String, value: String): Unit = m.put(key, value)
    def get(key: String): Option[String] = m.get(key)
    def size: Int = m.size
  }

  def doc(name: String): DocStore = new DocStore {
    private def m = docs.getOrElseUpdate(name, TrieMap.empty)
    def index(id: String, d: Map[String, String]): Unit = m.put(id, d)
    def get(id: String): Option[Map[String, String]] = m.get(id)
    def size: Int = m.size
  }

  def clear(name: String): Unit = { kvs.remove(name); docs.remove(name) }
}

/** Sink builders (SURVEY.md §2.4/§2.5).
  *
  * All sinks write from executor-side `foreachPartition` — one store
  * connection per partition, no `collect()` to the driver — so the
  * same code ships a 1000-partition micro-batch. Used inside
  * `writeStream.foreachBatch` for streaming (exactly-once via
  * idempotent upsert + checkpointed offsets, the Spark analog of the
  * reference's CheckPointTest.scala:37 exactly-once config). */
object Sinks {

  /** Kafka producer options (reference sinkTest/KafkaSinkTest.scala:112
    * builds a FlinkKafkaProducer with broker list + topic; Spark's
    * kafka sink takes them as options and expects key/value columns).
    * No broker exists in this environment — the option builder is the
    * unit-tested part; [[kafkaSinkTo]] applies it verbatim. */
  def kafkaSinkOptions(bootstrap: String, topic: String): Map[String, String] =
    Map(
      "kafka.bootstrap.servers" -> bootstrap,
      "topic" -> topic,
      // idempotent producer: retries can't duplicate within a session
      "kafka.enable.idempotence" -> "true",
      "kafka.acks" -> "all")

  /** Wire a streaming DataFrame (must have `key`/`value` columns) to
    * the Kafka sink with a checkpoint — exactly-once to the topic
    * modulo Kafka's producer semantics. */
  def kafkaSinkTo(df: DataFrame, bootstrap: String, topic: String,
                  checkpoint: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    df.writeStream.format("kafka")
      .options(kafkaSinkOptions(bootstrap, topic))
      .option("checkpointLocation", checkpoint)

  /** Redis-style KV upsert: key = `keyCol`'s value, value = `valCol`'s.
    * Last-write-wins per key, idempotent under micro-batch replay. */
  def kvUpsert(store: KvStore, keyCol: String, valCol: String)(
      batch: DataFrame): Unit =
    batch.select(keyCol, valCol).foreachPartition { rows: Iterator[Row] =>
      rows.foreach(r => store.put(String.valueOf(r.get(0)), String.valueOf(r.get(1))))
    }

  /** foreachBatch adapter: `writeStream.foreachBatch(kvUpsertWriter(...))`. */
  def kvUpsertWriter(store: KvStore, keyCol: String, valCol: String): (DataFrame, Long) => Unit =
    (batch, _) => kvUpsert(store, keyCol, valCol)(batch)

  /** ES-style doc indexing: one doc per row, id from `idCol`, all
    * other columns become fields (EsSinkTest.scala:977 pattern). */
  def docIndex(store: DocStore, idCol: String)(batch: DataFrame): Unit = {
    val cols = batch.columns
    batch.foreachPartition { rows: Iterator[Row] =>
      rows.foreach { r =>
        val doc = cols.zipWithIndex.collect {
          case (c, i) if c != idCol => c -> String.valueOf(r.get(i))
        }.toMap
        store.index(String.valueOf(r.get(cols.indexOf(idCol))), doc)
      }
    }
  }

  /** JDBC-upsert-style merge keyed by several columns (reference
    * OrderAnalysy.scala:564 GroupOrderMysqlSink upserts by
    * (day, province)). Values joined with '|' — replace with a real
    * MERGE in a JDBC-backed KvStore. */
  def mergeUpsert(store: KvStore, keyCols: Seq[String], valCols: Seq[String])(
      batch: DataFrame): Unit = {
    val sel = batch.select((keyCols ++ valCols).map(org.apache.spark.sql.functions.col): _*)
    val nk = keyCols.size
    sel.foreachPartition { rows: Iterator[Row] =>
      rows.foreach { r =>
        val key = (0 until nk).map(r.get).mkString("|")
        val value = (nk until nk + valCols.size).map(r.get).mkString("|")
        store.put(key, value)
      }
    }
  }
}
