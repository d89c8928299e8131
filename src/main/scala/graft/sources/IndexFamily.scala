package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{DedupQueries, MultimodalQueries, SearchQueries, SimilarityQueries}
import graft.streaming.DocumentsStream.{AssetIngestTargets, CorpusIngestTargets}

/** What the streaming ingest arm and [[Lifecycle.maintain]] need to know
  * about one persisted index family — the only place that knowledge is
  * written down. Build one through the companion's factories.
  *
  * @param name       the family's name: the key of its
  *                   [[Lifecycle.Maintenance]] in a group pass and the
  *                   label of its [[Tombstones.debt]] row.
  * @param idCol      the id column its tombstones and debt are counted by.
  * @param anchor     the manifest anchor, RE-RESOLVED on every call: a
  *                   location-anchored family (band, winnow, prefix, phash)
  *                   answers the catalog table's current location, which
  *                   every fold moves; search, IVF and graph answer their
  *                   fixed index path. Both the ingest lease and the
  *                   maintenance lease claim through it
  *                   ([[WriterLease.withResolvedIngestLease]]), so callers
  *                   must never cache its answer across a fold.
  * @param tables     the catalog relations an ingest refreshes under the
  *                   lease before reading (the table, plus `${table}_fwd`
  *                   for prefix; none for IVF and graph, which read by
  *                   path).
  * @param rows       the physical base frame, the debt denominator; built
  *                   lazily, under the maintenance lease.
  * @param vacuumData the build path whose epoch-named data directories
  *                   vacuum enumerates (the flat epoch-dir families), or
  *                   None.
  * @param ingest     lands one micro-batch, `(rows, batchId, streamId)`,
  *                   as one fenced manifest commit; it projects its own
  *                   input columns out of `rows`, so one group row can feed
  *                   every sibling.
  * @param compact    the family's fold.
  */
final case class IndexFamily(
    name: String,
    idCol: String,
    anchor: () => String,
    tables: Seq[String],
    rows: () => DataFrame,
    vacuumData: Option[String],
    ingest: (DataFrame, Long, String) => Unit,
    compact: () => Unit)

object IndexFamily {

  /** The lexical search family: the index anchors its manifest at the
    * immutable build `path`, while the postings table's location moves at
    * folds (hence the refresh).
    */
  def search(s: SparkSession, table: String, path: String): IndexFamily =
    IndexFamily("search", "doc_id", () => path, Seq(table), () => s.table(table), None,
      (rows, b, stream) => SearchQueries.ingestSearchBatch(
        s, table, path, rows.select("doc_id", "text", "lang"), b, stream),
      () => SearchQueries.compactSearchIndex(s, table, path))

  /** A location-anchored bucketed family: its manifest anchors on the
    * table's current location, which every fold moves.
    */
  private def bucketed(
      s: SparkSession, name: String, table: String, idCol: String, tables: Seq[String],
      ingest: (DataFrame, Long, String) => Unit, compact: => Unit): IndexFamily =
    IndexFamily(name, idCol, () => Tombstones.tableLocation(s, table), tables,
      () => s.table(table), None, ingest, () => compact)

  def band(s: SparkSession, table: String): IndexFamily =
    bucketed(s, "band", table, "doc_id", Seq(table),
      (rows, b, stream) => DedupQueries.ingestBandBatch(
        rows.select("doc_id", "text"), table, b, stream),
      DedupQueries.compactBandIndex(s, table))

  def winnow(s: SparkSession, table: String): IndexFamily =
    bucketed(s, "winnow", table, "doc_id", Seq(table),
      (rows, b, stream) => DedupQueries.ingestWinnowBatch(
        rows.select("doc_id", "text"), table, b, stream),
      DedupQueries.compactWinnowIndex(s, table))

  /** One commit serves both halves of the prefix index (inverted and
    * forward), so both relations refresh.
    */
  def prefix(s: SparkSession, table: String): IndexFamily =
    bucketed(s, "prefix", table, "doc_id", Seq(table, s"${table}_fwd"),
      (rows, b, stream) => DedupQueries.ingestPrefixBatch(
        rows.select("doc_id", "text"), table, b, stream),
      DedupQueries.compactPrefixIndex(s, table))

  def phash(s: SparkSession, table: String): IndexFamily =
    bucketed(s, "phash", table, "asset_id", Seq(table),
      (rows, b, stream) => MultimodalQueries.ingestPhashBatch(
        rows.select("asset_id", "payload", "format"), table, b, stream),
      MultimodalQueries.compactPhashIndex(s, table))

  /** A flat epoch-dir family at the fixed `path`: the debt denominator is
    * the CURRENT base (a fold redirects it), and vacuum enumerates the
    * epoch-named dirs under `path`.
    */
  private def flat(
      s: SparkSession, name: String, path: String,
      ingest: (DataFrame, Long, String) => Unit, compact: => Unit): IndexFamily =
    IndexFamily(name, "vec_id", () => path, Nil,
      () => s.read.parquet(IndexManifest.dataPath(s, path, path)), Some(path),
      ingest, () => compact)

  /** The IVF vector family. `dir` is the corpus root the arriving vectors
    * are assigned against (the [[SimilarityQueries.ingestIvfBatch]]
    * contract); a maintenance pass never ingests and passes None.
    */
  def ivf(s: SparkSession, path: String, dir: Option[String]): IndexFamily =
    flat(s, "ivf", path,
      (rows, b, stream) => SimilarityQueries.ingestIvfBatch(
        s, dir.getOrElse(throw new IllegalStateException(
          s"IndexFamily ivf($path) was built without a corpus root to ingest against")),
        path, rows.select("vec_id", "label", "embedding"), b, stream),
      SimilarityQueries.compactIvfIndex(s, path))

  def graph(s: SparkSession, path: String, dir: String): IndexFamily =
    flat(s, "graph", path,
      (rows, b, stream) => SimilarityQueries.ingestGraphBatch(s, dir, path, rows, b, stream),
      SimilarityQueries.compactKnnGraph(s, path))

  /** A corpus group's families in its fixed commit order:
    * search → band → winnow → prefix → ivf.
    */
  def corpus(s: SparkSession, t: CorpusIngestTargets, dir: Option[String]): Seq[IndexFamily] =
    t.search.map { case (table, path) => search(s, table, path) }.toSeq ++
      t.band.map(band(s, _)) ++ t.winnow.map(winnow(s, _)) ++
      t.prefix.map(prefix(s, _)) ++ t.ivf.map(ivf(s, _, dir))

  /** A media-asset group's families in its fixed commit order: phash → ivf. */
  def assets(s: SparkSession, t: AssetIngestTargets, dir: Option[String]): Seq[IndexFamily] =
    t.phash.map(phash(s, _)).toSeq ++ t.ivf.map(ivf(s, _, dir))
}
