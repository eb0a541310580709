package perfbench

import org.apache.spark.sql.DataFrame

import graft.{NodeFilters, NodePatch, WhisperDB}
import graft.api.{ApiResult, WhisperApi}
import graft.enrich.{ClusteringReport, EnrichService, TaggingReport}
import graft.model.Node

/** The `api` layer's probe: a `WhisperApi` that forwards every call to
  * a plain `WhisperApi` over the same snapshot and records one span per
  * served method. `reset` swaps in a fresh facade over the initial
  * snapshot, so the write workload can start each session from the
  * same state without restarting the HTTP server.
  */
final class TimedApi(initial: WhisperDB, enrich: EnrichService, trace: Trace)
    extends WhisperApi(initial, enrich) {

  @volatile private var inner = new WhisperApi(initial, enrich)

  def reset(): Unit = inner = new WhisperApi(initial, enrich)

  override def db: WhisperDB = inner.db

  override def listNodes(filters: NodeFilters, sort: String, order: String,
                         limit: Int, offset: Int): DataFrame =
    trace("api.list_nodes")(inner.listNodes(filters, sort, order, limit, offset))
  override def countNodes(filters: NodeFilters): Long =
    trace("api.count_nodes")(inner.countNodes(filters))
  override def getNode(id: Long): ApiResult[(DataFrame, DataFrame)] =
    trace("api.get_node")(inner.getNode(id))
  override def createNode(n: Node, now: () => String): ApiResult[Long] =
    trace("api.create_node")(inner.createNode(n, now))
  override def updateNode(id: Long, patch: NodePatch): ApiResult[Long] =
    trace("api.update_node")(inner.updateNode(id, patch))
  override def deleteNode(id: Long): ApiResult[Long] =
    trace("api.delete_node")(inner.deleteNode(id))
  override def similarNodes(id: Long, limit: Int): ApiResult[DataFrame] =
    trace("api.similar")(inner.similarNodes(id, limit))
  override def nodesByTag(tag: String): DataFrame =
    trace("api.nodes_by_tag")(inner.nodesByTag(tag))
  override def clusters(): DataFrame = trace("api.clusters")(inner.clusters())

  // routes the workloads do not send: forwarded untimed
  override def listFiles(id: Long): DataFrame = inner.listFiles(id)
  override def attachFile(id: Long, path: String): ApiResult[String] =
    inner.attachFile(id, path)
  override def attachFile(id: Long, filename: String, content: Array[Byte]): ApiResult[String] =
    inner.attachFile(id, filename, content)
  override def detachFile(id: Long, path: String): ApiResult[String] =
    inner.detachFile(id, path)
  override def generateEmbedding(id: Long): ApiResult[Long] = inner.generateEmbedding(id)
  override def generateTags(id: Long): ApiResult[TaggingReport] = inner.generateTags(id)
  override def cluster(threshold: Double): ApiResult[ClusteringReport] =
    inner.cluster(threshold)
  override def getTags: Seq[String] = inner.getTags
  override def linkAllByTags(threshold: Double): ApiResult[Long] =
    inner.linkAllByTags(threshold)
  override def health: Long = inner.health
}
