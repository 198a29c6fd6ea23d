package graft.sources

import java.util

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{NamedReference, NullOrdering, SortDirection, SortOrder, Transform}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, In, IsNotNull, LessThan}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** An article-feed DataSource V2 with SOURCE-SIDE pushdown — the Spark
  * form of the reference's HTTP sources, which push their query, limit and
  * sort into API parameters instead of post-filtering
  * (SURVEY.md §2.1 S2/S3, §4 rows 1-3: `pageSize=5` realtimeapi.py:39,
  * `limit=10` reddit.py:4, site whitelist reddit.py:26-35).
  *
  * `spark.read.format("graft-feed").option("feed", name)` serves rows from
  * a registered in-memory feed (in production: the HTTP pagination
  * client). The scan builder implements
  *  - SupportsPushDownFilters        (source whitelist / date window),
  *  - SupportsPushDownLimit          (pageSize/limit),
  *  - SupportsPushDownRequiredColumns (projection → sparse API field sets),
  * and records what was pushed in `FeedSource.lastPushed` so specs (and
  * `.explain`) can prove the pushdown actually reached the source.
  */
object FeedSource {
  val schema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("title", StringType),
    StructField("url", StringType), StructField("source", StringType),
    StructField("section_id", IntegerType)))

  final case class FeedRow(id: Long, title: String, url: String,
      source: String, sectionId: Int)

  /** Registered feeds (test fixture / stand-in for the remote endpoint). */
  val feeds: TrieMap[String, Seq[FeedRow]] = TrieMap.empty

  /** Last pushdown the source accepted, per feed: (filters, limit, cols). */
  val lastPushed: TrieMap[String, (Seq[String], Int, Seq[String])] = TrieMap.empty

  /** Last TopN the source accepted, per feed: (per-key (column, ascending,
    * nullsFirst) order spec, limit) — the `sortBy=relevancy&pageSize=5`
    * API-param shape (realtimeapi.py:39 intent). */
  val lastPushedTopN: TrieMap[String, (Seq[(String, Boolean, Boolean)], Int)] = TrieMap.empty

  /** Whether the sort field is null on this row (string fields only — id
    * and section_id are primitives). A production feed can return rows
    * with missing fields; since isPartiallyPushed=false Spark drops its
    * own sort, so the source comparator must be the one honoring the
    * requested null ordering (ADVICE r11: a null title would otherwise
    * NPE at read time). */
  private[sources] def isNullField(field: String, r: FeedRow): Boolean = field match {
    case "title"  => r.title == null
    case "url"    => r.url == null
    case "source" => r.source == null
    case _        => false
  }

  /** Source-side comparator for one accepted sort column — both sides
    * non-null for `field` (null rows are ordered by the caller via
    * [[isNullField]] + the pushed nullOrdering). */
  private[sources] def cmp(field: String, a: FeedRow, b: FeedRow): Int = field match {
    case "id"         => java.lang.Long.compare(a.id, b.id)
    case "title"      => a.title.compareTo(b.title)
    case "url"        => a.url.compareTo(b.url)
    case "source"     => a.source.compareTo(b.source)
    case "section_id" => Integer.compare(a.sectionId, b.sectionId)
    case other => throw new IllegalStateException(
      s"FeedSource.cmp: accepted sort column has no comparator: $other")
  }

  /** Evaluate the pushable filter subset source-side (the "API" honors
    * equality/IN on source, ranges on id — like query params). */
  private[sources] def eval(f: Filter, r: FeedRow): Boolean = f match {
    case EqualTo("source", v)     => r.source == v
    case In("source", vs)         => vs.contains(r.source)
    case EqualTo("section_id", v) => r.sectionId == v
    case GreaterThan("id", v: Long) => r.id > v
    case LessThan("id", v: Long)  => r.id < v
    case IsNotNull(f)             => !isNullField(f, r)
    // pushedFilters() reports accepted filters as fully applied — an
    // accepted-but-unmatched filter here would silently return wrong rows,
    // so fail loudly instead (e.g. a future type change boxing id as Int)
    case other => throw new IllegalStateException(
      s"FeedSource.eval: accepted filter has no evaluation rule: $other")
  }

  private[sources] def isPushable(f: Filter): Boolean = f match {
    case EqualTo("source", _) | In("source", _) | EqualTo("section_id", _) |
         GreaterThan("id", _) | LessThan("id", _) | IsNotNull(_) => true
    case _ => false
  }
}

class FeedSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    FeedSource.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new FeedTable(properties.get("feed"))
}

class FeedTable(feed: String) extends Table with SupportsRead {
  override def name(): String = s"graft-feed($feed)"
  override def schema(): StructType = FeedSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new FeedScanBuilder(feed)
}

class FeedScanBuilder(feed: String) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownLimit
    with SupportsPushDownTopN with SupportsPushDownRequiredColumns {

  private var pushed: Array[Filter] = Array.empty
  private var limit: Int = -1
  private var topN: Seq[(String, Boolean, Boolean)] = Seq.empty
  private var cols: StructType = FeedSource.schema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accepted, rejected) = filters.partition(FeedSource.isPushable)
    pushed = accepted
    rejected // Spark re-applies these above the scan
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pushLimit(l: Int): Boolean = { limit = l; true }

  /** O2: sort+limit pushdown (`sortBy=…&pageSize=N`). Accepted only when
    * every key is a plain top-level column the source can order on — then
    * the source returns rows fully ordered and limited, and Spark drops
    * the post-scan sort entirely (isPartiallyPushed = false; sound here
    * because the scan is a single partition, exactly like the single
    * paginated API response it stands in for). */
  override def pushTopN(orders: Array[SortOrder], l: Int): Boolean = {
    val spec = orders.toSeq.map(o =>
      (o.expression(), o.direction(), o.nullOrdering()))
    val accepted = spec.forall {
      case (ref: NamedReference, _, _) => ref.fieldNames.length == 1 &&
        FeedSource.schema.fieldNames.contains(ref.fieldNames.head)
      case _ => false
    }
    if (accepted) {
      // nullOrdering is carried per key and honored by the source
      // comparator (NULLS FIRST/LAST is absolute — never flipped by the
      // sort direction, matching Spark's own SortOrder semantics)
      topN = spec.map { case (e, d, no) =>
        (e.asInstanceOf[NamedReference].fieldNames.head,
          d == SortDirection.ASCENDING,
          no == NullOrdering.NULLS_FIRST)
      }
      limit = l
    }
    accepted
  }
  override def isPartiallyPushed(): Boolean = false

  override def pruneColumns(requiredSchema: StructType): Unit =
    cols = requiredSchema

  override def build(): Scan = {
    FeedSource.lastPushed(feed) =
      (pushed.map(_.toString).toSeq, limit, cols.fieldNames.toSeq)
    if (topN.nonEmpty) FeedSource.lastPushedTopN(feed) = (topN, limit)
    FeedScan(feed, pushed.toSeq, limit, topN, cols)
  }
}

/** Value equality (a case class of immutable fields) lets Spark reuse one
  * exchange for identical scans of a feed within one query. With reference
  * equality, each reference to a feed-backed frame re-reads the feed and
  * re-runs everything above it, side-effecting stages such as
  * `ServerFlow.fetchContent` included. */
final case class FeedScan(feed: String, filters: Seq[Filter], limit: Int,
    topN: Seq[(String, Boolean, Boolean)], cols: StructType) extends Scan with Batch {
  override def readSchema(): StructType = cols
  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] =
    Array(FeedPartition(feed, filters.toArray, limit, topN, cols.fieldNames))

  override def createReaderFactory(): PartitionReaderFactory =
    new FeedReaderFactory
}

final case class FeedPartition(feed: String, filters: Array[Filter],
    limit: Int, topN: Seq[(String, Boolean, Boolean)],
    cols: Array[String]) extends InputPartition

class FeedReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val fp = p.asInstanceOf[FeedPartition]
    // "the API call": filters + sort + limit applied at the source, before
    // rows ever enter Spark — the semantics of pageSize/sort/whitelist params
    val matched = FeedSource.feeds.getOrElse(fp.feed, Seq.empty)
      .filter(r => fp.filters.forall(FeedSource.eval(_, r)))
    val all = if (fp.topN.isEmpty) matched else {
      val ord = new Ordering[FeedSource.FeedRow] {
        override def compare(a: FeedSource.FeedRow, b: FeedSource.FeedRow): Int =
          fp.topN.iterator.map { case (f, asc, nullsFirst) =>
            val an = FeedSource.isNullField(f, a)
            val bn = FeedSource.isNullField(f, b)
            if (an && bn) 0
            else if (an) { if (nullsFirst) -1 else 1 }
            else if (bn) { if (nullsFirst) 1 else -1 }
            else { val c = FeedSource.cmp(f, a, b); if (asc) c else -c }
          }.find(_ != 0).getOrElse(0)
      }
      matched.sorted(ord)
    }
    val rows = (if (fp.limit >= 0) all.take(fp.limit) else all).iterator
    new PartitionReader[InternalRow] {
      private var cur: FeedSource.FeedRow = _
      override def next(): Boolean = { val h = rows.hasNext; if (h) cur = rows.next(); h }
      override def get(): InternalRow = {
        val vals = fp.cols.map {
          case "id" => cur.id
          case "title" => UTF8String.fromString(cur.title)
          case "url" => UTF8String.fromString(cur.url)
          case "source" => UTF8String.fromString(cur.source)
          case "section_id" => cur.sectionId
        }
        InternalRow.fromSeq(vals.toSeq)
      }
      override def close(): Unit = ()
    }
  }
}
