package graft.table

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.types.{DataType, StructType}

/** Driver-side JSON codec for the store's metadata artifacts (manifests,
  * table meta, per-shard Bloom / index stats and deletion-vector files).
  *
  * Why JSON files instead of parquet datasets: a manifest is a few hundred
  * rows of driver-resident metadata, but writing it through Spark costs a
  * full job (write) plus another per read — and commits run once per
  * micro-batch under streaming ingestion, so those fixed per-job costs
  * dominated the storage-path wall time (round-3 verdict: q34 21.5 s was
  * per-commit overhead, not data). Real Iceberg makes the same call: its
  * manifests/manifest-lists are driver-readable avro/JSON, never a Spark
  * job. Jackson ships with Spark itself, so no new dependency.
  *
  * Doubles round-trip exactly (jackson emits shortest-repr decimal;
  * `±Double.MaxValue` — the fail-open stats sentinel — included). NaN never
  * reaches these files: manifest stats fail open to the full range instead.
  */
/** One shard row of a two-level manifest LIST: where the shard file is,
  * how many data entries it holds, and the union bounds (curve-key and
  * lat/lon) of those entries — everything a planner needs to decide
  * whether to download the shard at all. `lineages` is the distinct
  * lineage-id summary of the shard's entries (usually ONE — a shard is
  * written by a single commit), letting the streaming-ingest idempotence
  * check ([[graft.table.SnapshotStore.committedLineage]]) read the root
  * alone instead of parsing every shard per micro-batch. `index` and
  * `bloom` name the shard's stats files, written beside it by the same
  * commit: the per-file index leaves (always) and the per-file Bloom
  * bitsets (when its files carry them). `dv` names the deletion-vector
  * file of the shard's files (per file, the bitset of deleted row
  * positions), written by the delete commit that last replaced this row,
  * and `deleted` counts the positions it marks. Every shard row carries
  * `lineages` and `index`: a row without either fails to parse. */
final case class ShardMeta(path: String, entries: Int,
                           minZ: Long, maxZ: Long,
                           minLat: Double, maxLat: Double,
                           minLon: Double, maxLon: Double,
                           lineages: Seq[String],
                           index: String, bloom: Option[String],
                           dv: Option[String] = None, deleted: Long = 0L) {
  /** The shard file and its stats files: what the shard row references. */
  def files: Seq[String] = Seq(path, index) ++ bloom ++ dv
}

/** A parsed snapshot root ([[MetaJson.manifestListJson]]): the shard rows
  * and the lineage ids folded into compactions and deletes. */
final case class ManifestRoot(shards: Seq[ShardMeta], folded: Seq[String])

object MetaJson {

  private val mapper = new ObjectMapper()

  private def entryNode(e: FileEntry): ObjectNode = {
    val o = mapper.createObjectNode()
    o.put("path", e.path); o.put("rows", e.rows)
    o.put("minZ", e.minZ); o.put("maxZ", e.maxZ)
    o.put("minLat", e.minLat); o.put("maxLat", e.maxLat)
    o.put("minLon", e.minLon); o.put("maxLon", e.maxLon)
    o.put("lineageId", e.lineageId); o.put("wallMs", e.wallMs)
    o.put("seq", e.seq)
    o
  }

  def manifestJson(entries: Seq[FileEntry]): String = {
    val root = mapper.createObjectNode()
    val arr = root.putArray("entries")
    entries.foreach(e => arr.add(entryNode(e)))
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(root)
  }

  /** Additive schema evolution: every field except the identity pair
    * (path, rows) reads through a default, so manifests written BEFORE a
    * field existed still parse after it's added. Geometric stats default
    * to the fail-open full range (a pruner may only skip a file it can
    * PROVE disjoint; unknown stats must never skip). */
  def parseManifest(json: String): Seq[FileEntry] =
    entriesFrom(mapper.readTree(json))

  // field reads with a default, for fields a document may omit
  private def l(o: JsonNode, n: String, d: Long) = Option(o.get(n)).map(_.asLong()).getOrElse(d)
  private def d(o: JsonNode, n: String, dv: Double) = Option(o.get(n)).map(_.asDouble()).getOrElse(dv)
  private def s(o: JsonNode, n: String, dv: String) = Option(o.get(n)).map(_.asText()).getOrElse(dv)

  private def entriesFrom(root: JsonNode): Seq[FileEntry] = {
    val arr = root.get("entries").asInstanceOf[ArrayNode]
    (0 until arr.size()).map { i =>
      val o = arr.get(i)
      FileEntry(o.get("path").asText(), o.get("rows").asLong(),
        l(o, "minZ", Long.MinValue), l(o, "maxZ", Long.MaxValue),
        d(o, "minLat", -Double.MaxValue), d(o, "maxLat", Double.MaxValue),
        d(o, "minLon", -Double.MaxValue), d(o, "maxLon", Double.MaxValue),
        s(o, "lineageId", ""), l(o, "wallMs", 0L), l(o, "seq", 0L))
    }
  }

  /** A snapshot root — the manifest LIST, the only manifest layout (the
    * Iceberg shape at any table size): `shards` rows point at per-shard
    * manifest files holding the data entries, with union Z / lat-lon
    * bounds so a box read downloads only overlapping shards, and name the
    * shard's stats and deletion-vector files; `folded` lists the lineage
    * ids a compaction rewrote or a delete applied, so they stay committed
    * for resumable runs without any manifest entry. */
  def manifestListJson(root: ManifestRoot): String = {
    val o = mapper.createObjectNode()
    val sArr = o.putArray("shards")
    root.shards.foreach { sm =>
      val so = sArr.addObject()
      so.put("path", sm.path); so.put("entries", sm.entries)
      so.put("minZ", sm.minZ); so.put("maxZ", sm.maxZ)
      so.put("minLat", sm.minLat); so.put("maxLat", sm.maxLat)
      so.put("minLon", sm.minLon); so.put("maxLon", sm.maxLon)
      val la = so.putArray("lineages"); sm.lineages.foreach(la.add)
      so.put("index", sm.index)
      sm.bloom.foreach(so.put("bloom", _))
      sm.dv.foreach { d => so.put("dv", d); so.put("deleted", sm.deleted) }
    }
    val fArr = o.putArray("folded")
    root.folded.foreach(fArr.add)
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(o)
  }

  /** Parse a snapshot root. Shard bounds read through the same fail-open
    * defaults as entry stats — an unknown bound makes the shard
    * un-prunable, never silently skipped. Readers look for data only in
    * shards and for compacted lineage only in `folded`, so a root missing
    * either node fails instead of reading as an empty (or lineage-less)
    * table. A root with entries inline (equality-delete tombstones, or
    * data) fails too: read without them, it would bring deleted rows
    * back. */
  def parseManifestRoot(json: String): ManifestRoot = {
    val root = mapper.readTree(json)
    def required(n: String): ArrayNode = Option(root.get(n)).getOrElse(
      throw new IllegalStateException(s"manifest root has no `$n` node"))
      .asInstanceOf[ArrayNode]
    val shardsNode = required("shards")
    val shards = (0 until shardsNode.size()).map { i =>
      val o = shardsNode.get(i)
      // required: a default-to-empty would silently claim "no lineages
      // in this shard" (re-appending committed streaming units) or "no
      // leaves for its files" (dropping them from the index and hot cells)
      def field(n: String, what: String): JsonNode = Option(o.get(n)).getOrElse(
        throw new IllegalStateException(s"manifest shard row ${o.get("path")} has no $what"))
      val ln = field("lineages", "lineages summary").asInstanceOf[ArrayNode]
      val lin = (0 until ln.size()).map(j => ln.get(j).asText())
      ShardMeta(o.get("path").asText(), o.get("entries").asInt(),
        l(o, "minZ", Long.MinValue), l(o, "maxZ", Long.MaxValue),
        d(o, "minLat", -Double.MaxValue), d(o, "maxLat", Double.MaxValue),
        d(o, "minLon", -Double.MaxValue), d(o, "maxLon", Double.MaxValue),
        lin, field("index", "index stats file").asText(),
        Option(o.get("bloom")).map(_.asText()),
        Option(o.get("dv")).map(_.asText()), l(o, "deleted", 0L))
    }
    Option(root.get("entries")).filter(_.size() > 0).foreach(_ =>
      throw new IllegalStateException(
        s"manifest root holds entry '${entriesFrom(root).head.path}' inline; " +
          "data entries live in shards and deletes in deletion vectors (a root " +
          "with inline equality-delete tombstones predates them: rebuild the table)"))
    val fNode = required("folded")
    ManifestRoot(shards, (0 until fNode.size()).map(i => fNode.get(i).asText()))
  }

  /** The pinned table layout: curve, zRes, histRes and the data schema
    * (Spark's `StructType.json`, `__z` included). */
  def tableMetaJson(curve: String, zRes: Int, histRes: Int, schema: StructType): String = {
    val o = mapper.createObjectNode()
    o.put("curve", curve); o.put("zRes", zRes); o.put("histRes", histRes)
    o.set[ObjectNode]("schema", mapper.readTree(schema.json))
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(o)
  }

  /** (curve, zRes, histRes, schema). A table meta without a schema is
    * refused: nothing on disk then says what its data files hold. */
  def parseTableMeta(json: String): (String, Int, Int, StructType) = {
    val o = mapper.readTree(json)
    val schema = Option(o.get("schema")).getOrElse(throw new IllegalStateException(
      "meta/table.json pins no schema (written before tables pinned their " +
        "schema); rebuild the table"))
    (o.get("curve").asText(), o.get("zRes").asInt(), o.get("histRes").asInt(),
      DataType.fromJson(schema.toString).asInstanceOf[StructType])
  }

  // index files carry up to 4^histRes rows per data file — the ONE
  // metadata payload where codec speed matters (every append serializes
  // them, every fromStore/hotCells parses them). The stats codecs use
  // jackson's STREAMING generator/parser instead of the tree model (no
  // per-value node allocation).

  /** Per-file bitsets: a shard's Bloom filters over `keyCol` with `k`
    * probes. */
  def bloomJson(keyCol: String, k: Int, files: Seq[(String, Array[Long])]): String =
    bitsJson(Seq("keyCol" -> keyCol, "k" -> k), files)

  /** (keyCol, k, path → bits). */
  def parseBloom(json: String): (String, Int, Seq[(String, Array[Long])]) = {
    val (h, files) = parseBits(json)
    (h.getOrElse("keyCol", ""), h.get("k").fold(0)(_.toInt), files)
  }

  /** Per-file bitsets: a shard's deletion vectors (bit i = row position i
    * of that file is deleted). */
  def dvJson(files: Seq[(String, Array[Long])]): String = bitsJson(Nil, files)

  def parseDv(json: String): Seq[(String, Array[Long])] = parseBits(json)._2

  /** `{<scalar header fields>, "files": [{"path", "bits": [...]}, ...]}`. */
  private def bitsJson(header: Seq[(String, Any)], files: Seq[(String, Array[Long])]): String = {
    val sw = new java.io.StringWriter(files.map(_._2.length).sum * 12 + 256)
    val g = mapper.getFactory.createGenerator(sw)
    g.writeStartObject()
    header.foreach {
      case (n, v: Int) => g.writeNumberField(n, v)
      case (n, v)      => g.writeStringField(n, v.toString)
    }
    g.writeArrayFieldStart("files")
    files.foreach { case (p, bits) =>
      g.writeStartObject()
      g.writeStringField("path", p)
      g.writeArrayFieldStart("bits")
      var i = 0
      while (i < bits.length) { g.writeNumber(bits(i)); i += 1 }
      g.writeEndArray()
      g.writeEndObject()
    }
    g.writeEndArray()
    g.writeEndObject()
    g.close()
    sw.toString
  }

  /** (scalar header fields as text, path → bits). */
  private def parseBits(json: String): (Map[String, String], Seq[(String, Array[Long])]) = {
    import com.fasterxml.jackson.core.JsonToken
    val p = mapper.getFactory.createParser(json)
    val header = Map.newBuilder[String, String]
    val files = Seq.newBuilder[(String, Array[Long])]
    try {
      p.nextToken() // START_OBJECT
      while (p.nextToken() == JsonToken.FIELD_NAME) {
        p.currentName() match {
          case "files" =>
            p.nextToken() // START_ARRAY
            while (p.nextToken() == JsonToken.START_OBJECT) {
              var path = ""
              var bits = Array.emptyLongArray
              while (p.nextToken() == JsonToken.FIELD_NAME) {
                p.currentName() match {
                  case "path" => p.nextToken(); path = p.getText
                  case "bits" =>
                    p.nextToken() // START_ARRAY
                    val buf = new scala.collection.mutable.ArrayBuffer[Long](1024)
                    while (p.nextToken() != JsonToken.END_ARRAY) buf += p.getLongValue
                    bits = buf.toArray
                  case _ => p.nextToken(); p.skipChildren()
                }
              }
              files += ((path, bits))
            }
          case n =>
            if (p.nextToken().isScalarValue) header += n -> p.getText else p.skipChildren()
        }
      }
    } finally p.close()
    (header.result(), files.result())
  }

  /** Per-file leaf slabs: (cell, cnt, minLat, maxLat, minLon, maxLon). */
  def indexJson(res: Int, files: Seq[(String, Seq[(Long, Long, Double, Double, Double, Double)])]): String = {
    val sw = new java.io.StringWriter(files.map(_._2.size).sum * 64 + 256)
    val g = mapper.getFactory.createGenerator(sw)
    g.writeStartObject()
    g.writeNumberField("res", res)
    g.writeArrayFieldStart("files")
    files.foreach { case (p, leaves) =>
      g.writeStartObject()
      g.writeStringField("path", p)
      g.writeArrayFieldStart("leaves")
      leaves.foreach { case (c, n, la0, la1, lo0, lo1) =>
        g.writeStartArray()
        g.writeNumber(c); g.writeNumber(n)
        g.writeNumber(la0); g.writeNumber(la1)
        g.writeNumber(lo0); g.writeNumber(lo1)
        g.writeEndArray()
      }
      g.writeEndArray()
      g.writeEndObject()
    }
    g.writeEndArray()
    g.writeEndObject()
    g.close()
    sw.toString
  }

  def parseIndex(json: String): (Int, Seq[(String, Seq[(Long, Long, Double, Double, Double, Double)])]) = {
    import com.fasterxml.jackson.core.JsonToken
    val p = mapper.getFactory.createParser(json)
    var res = 0
    val files = Seq.newBuilder[(String, Seq[(Long, Long, Double, Double, Double, Double)])]
    try {
      // {"res": r, "files": [{"path": p, "leaves": [[...], ...]}, ...]}
      p.nextToken() // START_OBJECT
      while (p.nextToken() == JsonToken.FIELD_NAME) {
        p.currentName() match {
          case "res" => p.nextToken(); res = p.getIntValue
          case "files" =>
            p.nextToken() // START_ARRAY
            while (p.nextToken() == JsonToken.START_OBJECT) {
              var path = ""
              val leaves = Seq.newBuilder[(Long, Long, Double, Double, Double, Double)]
              while (p.nextToken() == JsonToken.FIELD_NAME) {
                p.currentName() match {
                  case "path" => p.nextToken(); path = p.getText
                  case "leaves" =>
                    p.nextToken() // START_ARRAY
                    while (p.nextToken() == JsonToken.START_ARRAY) {
                      p.nextToken(); val c = p.getLongValue
                      p.nextToken(); val n = p.getLongValue
                      p.nextToken(); val la0 = p.getDoubleValue
                      p.nextToken(); val la1 = p.getDoubleValue
                      p.nextToken(); val lo0 = p.getDoubleValue
                      p.nextToken(); val lo1 = p.getDoubleValue
                      p.nextToken() // END_ARRAY of the row
                      leaves += ((c, n, la0, la1, lo0, lo1))
                    }
                  case _ => p.nextToken(); p.skipChildren()
                }
              }
              files += ((path, leaves.result()))
            }
          case _ => p.nextToken(); p.skipChildren()
        }
      }
    } finally p.close()
    (res, files.result())
  }
}
