package graft.dataflow.spark

import org.apache.spark.sql.RuntimeConfig
import org.apache.spark.storage.StorageLevel

import graft.dataflow._

/** How a planned cache stores its label. */
sealed trait CacheRequest
object CacheRequest {
  case object AsParquet extends CacheRequest
  final case class Persist(level: StorageLevel) extends CacheRequest
}

/** The flow's one record of which labels are cached, and how.
  *
  * `wrapped` holds every label whose producer already carries a cache
  * wrapper. The direct interceptors (`cacheAsParquet`,
  * `cacheAsPartitionedParquet`, `sparkCache`) wrap at once and add the label
  * here; a label in `wrapped` is never wrapped again (a second parquet
  * wrapper would overwrite the folder the first one reads).
  *
  * `requests` holds the planned caches (`cacheAsParquetPlanned`,
  * `sparkCachePlanned`). [[applyTo]] wraps them at prepare time, only on
  * labels that two or more actions read: caching a label read once is pure
  * overhead. Reference: CacheMetadataExtension.scala:13-82,
  * spark/CacheConfigurationExtension.scala:6-29.
  */
final case class CachePlan(
    requests: Map[String, CacheRequest] = Map.empty,
    wrapped: Set[String] = Set.empty) {

  def merge(that: CachePlan): CachePlan = {
    val conflicts = requests.keySet.intersect(that.requests.keySet)
      .filter(l => requests(l) != that.requests(l))
    if (conflicts.nonEmpty)
      throw new FlowException("Cannot merge flows: conflicting cache requests for: " +
        conflicts.toSeq.sorted.mkString(", "))
    CachePlan(requests ++ that.requests, wrapped ++ that.wrapped)
  }

  /** Wraps the planned labels of `flow`: its own requests, then the labels
    * the session conf lists (these replace a planned request for the same
    * label), then `committed` (parquet, only where no request exists, so a
    * user's own request wins). Labels read by fewer than two actions of
    * `flow`, and labels already in `wrapped`, are left as they are. */
  def applyTo(flow: SparkDataFlow, committed: Seq[String]): SparkDataFlow = {
    import actions._
    val planned = requests ++ CachePlan.confRequests(flow.spark.conf)
    val all = planned ++ committed.filterNot(planned.contains).map(_ -> CacheRequest.AsParquet)
    val consumers = flow.actions.flatMap(_.inputLabels).groupBy(identity).view.mapValues(_.size)
    all.toSeq.sortBy(_._1).foldLeft(flow.copy(cachePlan = CachePlan(wrapped = wrapped))) {
      case (fl, (label, _)) if consumers.getOrElse(label, 0) < 2 => fl
      case (fl, (label, CacheRequest.AsParquet)) => fl.cacheAsParquet(label)
      case (fl, (label, CacheRequest.Persist(level))) => fl.sparkCache(label, level)
    }
  }
}

object CachePlan {

  /** `spark.graft.dataflow.extensions=<name>[,<name>…]` turns on caching from
    * the session conf alone: `cacheasparquet` plans parquet caches for the
    * labels in `spark.graft.spark.cacheAsParquet.labels=a,b`, `sparkcache`
    * plans Spark persist caches for `spark.graft.spark.cache.labels=a,b`.
    * Reference: DataFlow.scala:345-367, 659-670. */
  private def confRequests(conf: RuntimeConfig): Seq[(String, CacheRequest)] = {
    def labels(key: String): Seq[String] =
      conf.getOption(key).toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    labels("spark.graft.dataflow.extensions").flatMap {
      case "cacheasparquet" =>
        labels("spark.graft.spark.cacheAsParquet.labels").map(_ -> CacheRequest.AsParquet)
      case "sparkcache" =>
        labels("spark.graft.spark.cache.labels")
          .map(_ -> CacheRequest.Persist(StorageLevel.MEMORY_AND_DISK))
      case other =>
        throw new FlowException(s"Unknown flow configuration extension [$other]; " +
          "available: cacheasparquet, sparkcache")
    }
  }
}

object caching {

  implicit class CachePlanOps(val flow: SparkDataFlow) extends AnyVal {

    private def request(labels: Seq[String], how: CacheRequest): SparkDataFlow =
      flow.copy(cachePlan = flow.cachePlan.copy(
        requests = flow.cachePlan.requests ++ labels.map(_ -> how)))

    /** Request parquet-checkpoint caching for labels; applied at prepare time
      * only when the label is actually reused. */
    def cacheAsParquetPlanned(labels: String*): SparkDataFlow =
      request(labels, CacheRequest.AsParquet)

    /** Request Spark persist caching, same elision rules. */
    def sparkCachePlanned(label: String,
        level: StorageLevel = StorageLevel.MEMORY_AND_DISK): SparkDataFlow =
      request(Seq(label), CacheRequest.Persist(level))
  }
}
