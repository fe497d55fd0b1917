package graft
package queries

import graft.api._
import graft.functions.GraftFunctions
import graft.operators._
import graft.queries.Fixtures._
import graft.queries.Shared._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Archive, file-format and record-format censuses and round trips. */
private[queries] object FormatRows {

  /** JSONL oracle scaffolding: the fixture lines rebuilt by string
    * concat, validity via DuckDB's strict parser, per-key types via
    * json_keys + json_type, the census relation. */
  private val JsonlCtes: String =
    """WITH lines AS MATERIALIZED (
      |  SELECT CASE
      |    WHEN doc_id % 31 = 0 THEN '{"id": ' || doc_id || ', "lang": "' || lang
      |    ELSE '{"id": ' || doc_id || ', "lang": "' || lang || '"' ||
      |      CASE WHEN doc_id % 11 = 0 THEN ', "n": "' || n_chars || '"'
      |           ELSE ', "n": ' || n_chars END ||
      |      CASE WHEN doc_id % 7 = 0
      |           THEN ', "tags": ["a", "b"], "meta": {"src": "' || source || '"}'
      |           ELSE '' END ||
      |      ', "ok": ' || CASE WHEN doc_id % 2 = 0 THEN 'true' ELSE 'false' END ||
      |      CASE WHEN doc_id % 13 = 0 THEN ', "note": null' ELSE '' END || '}'
      |  END AS line FROM documents),
      |flag AS MATERIALIZED (
      |  SELECT line,
      |         CASE WHEN json_valid(line)
      |              THEN json_type(line) = 'OBJECT' ELSE FALSE END AS ok
      |  FROM lines),
      |v AS MATERIALIZED (SELECT line FROM flag WHERE ok),
      |kv AS (
      |  SELECT k AS key,
      |         coalesce(CASE json_type(line, '$."' || k || '"')
      |           WHEN 'VARCHAR' THEN 'string'
      |           WHEN 'BIGINT' THEN 'number'
      |           WHEN 'UBIGINT' THEN 'number'
      |           WHEN 'DOUBLE' THEN 'number'
      |           WHEN 'BOOLEAN' THEN 'boolean'
      |           WHEN 'OBJECT' THEN 'object'
      |           WHEN 'ARRAY' THEN 'array'
      |         END, 'null') AS vtype
      |  FROM v, unnest(json_keys(line)) t(k)),
      |census AS (
      |  SELECT key, vtype, CAST(count(*) AS BIGINT) AS n FROM kv GROUP BY 1, 2
      |  UNION ALL
      |  SELECT '__malformed__', 'invalid', CAST(count(*) AS BIGINT)
      |  FROM flag WHERE NOT ok HAVING count(*) > 0)""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    // WARC (ISO 28500) round trip — the web-crawl wire format: the
    // documents table exports as 16 sharded .warc.gz images (warcinfo
    // lead record + one gzip-member HTTP response record per doc),
    // then the reader parses them back via Content-Length framing.
    // Every field must come back byte-identical, so the oracle is the
    // documents table itself — a data-dependent identity proof with
    // zero pinned constants, the same strongest-form oracle as the
    // PNG round trip. The parse itself is the 100 TB ingest path
    // (binaryFile scan → per-file parse, shuffle-free); only the
    // export side shuffles, once, to form shards.
    QuerySpec("warc_roundtrip", (s, d) => {
      import s.implicits._
      val docs = table(s, d, "documents")
      graft.sources.WarcCodec.exportWarcShards(docs, "doc_id", "text", nShards = 16)
        .as[(Int, Array[Byte])]
        .flatMap { case (_, blob) => graft.sources.WarcCodec.parseWarc(blob) }
        .toDF()
        .select(
          regexp_extract(col("url"), "/doc/(\\d+)$", 1).cast("long").as("doc_id"),
          col("http_status"),
          decode(col("body"), "UTF-8").as("text_back"))
        .orderBy("doc_id")
    },
      // Identity: the WARC export→parse round trip must reproduce the
      // documents table byte-for-byte (status 200 is the writer's
      // constant; null text encodes as the empty body).
      """SELECT doc_id, CAST(200 AS INT) AS http_status,
        |       COALESCE(text, '') AS text_back
        |FROM documents ORDER BY doc_id""".stripMargin),
    // Archive census: documents → sharded TAR / ZIP images →
    // decode-free member walk (tar header blocks with payloads skipped
    // by size arithmetic; zip central directory only, located from the
    // file tail) → per-doc size fields vs a closed-form oracle. The
    // triage pass a code-corpus drop (GitHub tars, Kaggle zips) needs
    // before any extraction at 100 TB: payload bytes are never
    // scanned, so census cost is O(members), not O(archive bytes).
    QuerySpec("tar_census", (s, d) => {
      import s.implicits._
      graft.sources.ArchiveExport
        .exportTarShards(table(s, d, "documents"), "doc_id", "text", 16)
        .as[(Int, Array[Byte])]
        .flatMap { case (_, blob) => graft.sources.ArchiveCodec.parseTar(blob) }
        .toDF()
        .select(
          regexp_extract(col("name"), "^doc_(\\d+)\\.txt$", 1)
            .cast("long").as("doc_id"),
          col("size").as("n_bytes"), col("type_flag"), col("mtime"))
        .orderBy("doc_id")
    },
      // Closed-form archive oracles: member sizes are the documents'
      // UTF-8 byte lengths (DuckDB strlen = bytes), STORED zip means
      // csize = usize, and the builders pin mtime 0 / typeflag '0'.
      """SELECT doc_id, CAST(strlen(COALESCE(text, '')) AS BIGINT) AS n_bytes,
        |       '0' AS type_flag, CAST(0 AS BIGINT) AS mtime
        |FROM documents ORDER BY doc_id""".stripMargin),
    // Parquet footer census — the engine's own file format read from
    // scratch: Spark writes a 3-bucket partitioned copy of documents,
    // then the thrift-COMPACT footer parser recovers per-file
    // version / row counts / row-group layout / schema leaves from
    // RAW BYTES (payload untouched). The oracle re-derives every
    // field from table arithmetic (bucket counts) + the pinned writer
    // facts (version 1, 1 row group, 5 leaf columns) — and the spec
    // cross-validates the parser against parquet-mr's own reader,
    // including multi-row-group and nested-schema files.
    QuerySpec("parquet_footer_census", (s, d) => {
      import s.implicits._
      import scala.jdk.CollectionConverters._
      val tmp = java.nio.file.Files.createTempDirectory("graft_pq_census")
      table(s, d, "documents")
        .withColumn("bucket", col("doc_id") % 3)
        .repartition(3, col("bucket"))
        .write.mode("overwrite").partitionBy("bucket").parquet(tmp.toString)
      val files = (0L until 3L).map { bkt =>
        val dir = tmp.resolve(s"bucket=$bkt")
        val fs = java.nio.file.Files.list(dir).iterator().asScala
          .filter(_.toString.endsWith(".parquet")).toSeq
        require(fs.size == 1, s"expected 1 parquet file per bucket, got $fs")
        (bkt, fs.head.toString)
      }
      files.toDF("bucket", "path").as[(Long, String)]
        .mapPartitions { it =>
          it.map { case (bkt, p) =>
            val m = graft.sources.ParquetFooter.parse(
              java.nio.file.Files.readAllBytes(
                java.nio.file.Paths.get(p))).get
            (bkt, m.version.toLong, m.num_rows,
              m.row_groups.length.toLong, m.schema_leaves.toLong,
              m.row_groups.head.num_rows,
              m.row_groups.head.n_columns.toLong, m.created_by)
          }
        }
        .toDF("bucket", "version", "file_rows", "n_row_groups",
          "schema_leaves", "rg0_rows", "n_columns", "has_created_by")
        .orderBy("bucket")
    },
      // Footer facts re-derived: per-bucket row counts from table
      // arithmetic; version 1 / single row group / 5 leaf columns /
      // created_by are the pinned Spark-writer facts the spec
      // cross-validates against parquet-mr.
      """SELECT CAST(doc_id % 3 AS BIGINT) AS bucket,
        |       CAST(1 AS BIGINT) AS version,
        |       CAST(COUNT(*) AS BIGINT) AS file_rows,
        |       CAST(1 AS BIGINT) AS n_row_groups,
        |       CAST(5 AS BIGINT) AS schema_leaves,
        |       CAST(COUNT(*) AS BIGINT) AS rg0_rows,
        |       CAST(5 AS BIGINT) AS n_columns,
        |       TRUE AS has_created_by
        |FROM documents GROUP BY 1 ORDER BY bucket""".stripMargin),
    // Schema-drift card between two snapshot writes, detected from
    // FOOTER BYTES alone (the ParquetFooter leaf names/types, now
    // parquet-mr-cross-validated): a removed column, an added column
    // and an INT64→INT32 narrowing — the contract check an ingestion
    // pipeline runs before a snapshot swap. The oracle pins the
    // expected verdict table.
    QuerySpec("parquet_schema_drift", (s, d) => {
      import s.implicits._
      import scala.jdk.CollectionConverters._
      def writeAndLeaves(df: org.apache.spark.sql.DataFrame): Map[String, String] = {
        val dir = java.nio.file.Files.createTempDirectory("graft_drift")
        df.repartition(1).write.mode("overwrite").parquet(dir.toString)
        val f = java.nio.file.Files.list(dir).iterator().asScala
          .filter(_.toString.endsWith(".parquet")).toSeq.head
        graft.sources.ParquetFooter.parse(java.nio.file.Files.readAllBytes(f))
          .get.leaves.map(l => l.name -> l.typeName).toMap
      }
      val docs = table(s, d, "documents")
      val l1 = writeAndLeaves(
        docs.select("doc_id", "text", "lang", "n_chars"))
      val l2 = writeAndLeaves(docs.select(
        col("doc_id"), col("lang"),
        col("n_chars").cast("int").as("n_chars"),
        (col("n_chars") % 100 / 100.0).as("quality")))
      val names = (l1.keySet ++ l2.keySet).toSeq.sorted
      names.map { n =>
        val st = (l1.get(n), l2.get(n)) match {
          case (Some(a), Some(b)) if a == b => "unchanged"
          case (Some(_), Some(_)) => "type_changed"
          case (Some(_), None) => "removed"
          case _ => "added"
        }
        (n, l1.getOrElse(n, ""), l2.getOrElse(n, ""), st)
      }.toDF("col", "v1_type", "v2_type", "status").orderBy("col")
    },
      // The pinned drift verdicts (both snapshot schemas are fixed by
      // the row itself; the value is the footer-byte derivation).
      """SELECT * FROM (VALUES
        |  ('doc_id', 'INT64', 'INT64', 'unchanged'),
        |  ('lang', 'BYTE_ARRAY', 'BYTE_ARRAY', 'unchanged'),
        |  ('n_chars', 'INT64', 'INT32', 'type_changed'),
        |  ('quality', '', 'DOUBLE', 'added'),
        |  ('text', 'BYTE_ARRAY', '', 'removed'))
        |  AS t(col, v1_type, v2_type, status)
        |ORDER BY col""".stripMargin),
    QuerySpec("zip_census", (s, d) => {
      import s.implicits._
      graft.sources.ArchiveExport
        .exportZipShards(table(s, d, "documents"), "doc_id", "text", 16)
        .as[(Int, Array[Byte])]
        .flatMap { case (_, blob) => graft.sources.ArchiveCodec.parseZip(blob) }
        .toDF()
        .select(
          regexp_extract(col("name"), "^doc_(\\d+)\\.txt$", 1)
            .cast("long").as("doc_id"),
          col("method").cast("long").as("method"),
          col("csize").as("c_bytes"), col("usize").as("n_bytes"))
        .orderBy("doc_id")
    },
      """SELECT doc_id, CAST(0 AS BIGINT) AS method,
        |       CAST(strlen(COALESCE(text, '')) AS BIGINT) AS c_bytes,
        |       CAST(strlen(COALESCE(text, '')) AS BIGINT) AS n_bytes
        |FROM documents ORDER BY doc_id""".stripMargin),
    // ZIP64 census — the same shards emitted with the 64-bit
    // structures a >4 GiB archive carries (saturated 32-bit EOCD
    // fields routing through the ZIP64 EOCD locator + record, sizes
    // resolved from each entry's 0x0001 extended-information extra
    // field, APPNOTE 4.3.14/4.5.3). Values must come back identical
    // to the 32-bit census — which is exactly what the shared oracle
    // asserts.
    QuerySpec("zip64_census", (s, d) => {
      import s.implicits._
      graft.sources.ArchiveExport
        .exportZipShards(table(s, d, "documents"), "doc_id", "text", 16,
          forceZip64 = true)
        .as[(Int, Array[Byte])]
        .flatMap { case (_, blob) => graft.sources.ArchiveCodec.parseZip(blob) }
        .toDF()
        .select(
          regexp_extract(col("name"), "^doc_(\\d+)\\.txt$", 1)
            .cast("long").as("doc_id"),
          col("method").cast("long").as("method"),
          col("csize").as("c_bytes"), col("usize").as("n_bytes"))
        .orderBy("doc_id")
    },
      // ZIP64 must census to the SAME values as the 32-bit layout — the
      // oracle is deliberately identical to zip_census.
      """SELECT doc_id, CAST(0 AS BIGINT) AS method,
        |       CAST(strlen(COALESCE(text, '')) AS BIGINT) AS c_bytes,
        |       CAST(strlen(COALESCE(text, '')) AS BIGINT) AS n_bytes
        |FROM documents ORDER BY doc_id""".stripMargin),
    // Long-name tar census — names over the ustar 100-byte field,
    // carried as GNU 'L' longname entries (even ids) and PAX 'x'
    // `path=` records (odd ids); the census must consume the metadata
    // entry and surface the member under its FULL name (tar-lister
    // semantics). The oracle rebuilds every name arithmetically.
    QuerySpec("tar_longname_census", (s, d) => {
      import s.implicits._
      table(s, d, "documents")
        .select(col("doc_id").cast("long"),
          coalesce(col("text"), lit("")).as("text"))
        .as[(Long, String)]
        .mapPartitions { it =>
          it.map { case (id, text) =>
            val name = s"deep/${"p" * (96 + (id % 8)).toInt}/doc_$id.txt"
            val tar = graft.sources.ArchiveCodec.buildTar(
              Iterator(name -> text.getBytes(java.nio.charset.StandardCharsets.UTF_8)),
              paxLongNames = id % 2 == 1)
            val e = graft.sources.ArchiveCodec.parseTar(tar).head
            (id, e.name, e.name.length.toLong, e.size)
          }
        }
        .toDF("doc_id", "member_name", "name_len", "n_bytes")
        .orderBy("doc_id")
    },
      // Long names rebuilt arithmetically: deep/ + 96+(id%8) p's +
      // /doc_<id>.txt; payload bytes are the documents' UTF-8 lengths.
      """SELECT doc_id,
        |       'deep/' || repeat('p', CAST(96 + doc_id % 8 AS INT)) ||
        |         '/doc_' || doc_id || '.txt' AS member_name,
        |       CAST(strlen('deep/' || repeat('p', CAST(96 + doc_id % 8 AS INT)) ||
        |         '/doc_' || doc_id || '.txt') AS BIGINT) AS name_len,
        |       CAST(strlen(COALESCE(text, '')) AS BIGINT) AS n_bytes
        |FROM documents ORDER BY doc_id""".stripMargin),
    // Zstd frame census — the decode-free triage for .zst corpus
    // drops (how web-scale text dumps actually ship): frame/block
    // structure, declared content size, dictionary id and checksum
    // presence from HEADERS only, payload bytes skipped. Legal frames
    // (raw + RLE blocks, optional skippable prefix, 2-byte dict ids)
    // are assembled in-plan from each document's bytes; the oracle
    // re-derives the census arithmetically (ceil-div block counts).
    QuerySpec("zstd_census", (s, d) => {
      import s.implicits._
      table(s, d, "documents")
        .filter(length(col("text")) >= 250)
        .select(col("doc_id").cast("long"),
          substring(col("text"), 1, 250).cast("binary"))
        .as[(Long, Array[Byte])]
        .mapPartitions { it =>
          it.map { case (id, bytes) =>
            val b0 = bytes(0) & 0xff; val b1 = bytes(1) & 0xff
            val clen = 50 + b0 % 200
            val rleLen = if (b0 % 2 == 1) 1 + b1 % 32 else 0
            val dictId = if (b0 % 5 == 0) 1000 + b1 else 0
            val frame = graft.sources.ZstdCodec.buildZstd(
              bytes.take(clen), 1 + b1 % 64, rleLen, 0x41, dictId)
            val stream =
              if (b1 % 3 == 0)
                graft.sources.ZstdCodec.buildSkippable(bytes.take(11)) ++ frame
              else frame
            val m = graft.sources.ZstdCodec.parseZstd(stream).get
            (id, m.n_frames, m.n_skippable, m.n_blocks, m.n_raw, m.n_rle,
              m.content_bytes, m.dict_id, m.has_checksum)
          }
        }
        .toDF("id", "n_frames", "n_skippable", "n_blocks", "n_raw",
          "n_rle", "content_bytes", "dict_id", "has_checksum")
        .orderBy("id")
    },
      // The zstd census re-derived arithmetically from the same document
      // bytes the in-plan frame builder consumed (ceil-div raw-block
      // count, RFC 8878 layout).
      """WITH src AS (
        |  SELECT doc_id AS id,
        |         ascii(substr(text, 1, 1)) AS b0,
        |         ascii(substr(text, 2, 1)) AS b1
        |  FROM documents WHERE length(text) >= 250)
        |SELECT id, CAST(1 AS INT) AS n_frames,
        |       CAST(CASE WHEN b1 % 3 = 0 THEN 1 ELSE 0 END AS INT)
        |         AS n_skippable,
        |       CAST((50 + b0 % 200 + b1 % 64) // (1 + b1 % 64)
        |            + CASE WHEN b0 % 2 = 1 THEN 1 ELSE 0 END AS INT)
        |         AS n_blocks,
        |       CAST((50 + b0 % 200 + b1 % 64) // (1 + b1 % 64) AS INT)
        |         AS n_raw,
        |       CAST(CASE WHEN b0 % 2 = 1 THEN 1 ELSE 0 END AS INT) AS n_rle,
        |       CAST(50 + b0 % 200 +
        |            CASE WHEN b0 % 2 = 1 THEN 1 + b1 % 32 ELSE 0 END AS BIGINT)
        |         AS content_bytes,
        |       CAST(CASE WHEN b0 % 5 = 0 THEN 1000 + b1 ELSE 0 END AS BIGINT)
        |         AS dict_id,
        |       false AS has_checksum
        |FROM src ORDER BY id""".stripMargin),
    // LZ4 frame census — completes the storage-codec triage pair with
    // zstd_census, and goes one step further: LZ4's XXH32 header /
    // block / content checksums are computed for REAL (reference
    // algorithm, vector-pinned), so the census VALIDATES integrity
    // instead of skipping bytes. Legal uncompressed-block frames are
    // assembled in-plan; the oracle re-derives the census
    // arithmetically with content_ok necessarily true.
    QuerySpec("lz4_census", (s, d) => {
      import s.implicits._
      table(s, d, "documents")
        .filter(length(col("text")) >= 250)
        .select(col("doc_id").cast("long"),
          substring(col("text"), 1, 250).cast("binary"))
        .as[(Long, Array[Byte])]
        .mapPartitions { it =>
          it.map { case (id, bytes) =>
            val b0 = bytes(0) & 0xff; val b1 = bytes(1) & 0xff
            val clen = 50 + b0 % 200
            val frame = graft.sources.Lz4Codec.buildLz4(
              bytes.take(clen), 1 + b1 % 64,
              blockChecksums = b1 % 2 == 1,
              dictId = if (b0 % 5 == 0) 70000L + b1 else 0L,
              bmCode = 4 + b0 % 4)
            val stream =
              if (b0 % 3 == 0)
                graft.sources.Lz4Codec.buildSkippable(bytes.take(13)) ++ frame
              else frame
            val m = graft.sources.Lz4Codec.parseLz4(stream).get
            (id, m.n_frames, m.n_skippable, m.n_blocks, m.n_uncompressed,
              m.content_bytes, m.block_max_kb, m.dict_id, m.content_ok)
          }
        }
        .toDF("id", "n_frames", "n_skippable", "n_blocks",
          "n_uncompressed", "content_bytes", "block_max_kb", "dict_id",
          "content_ok")
        .orderBy("id")
    },
      // The LZ4 census re-derived arithmetically; content_ok is
      // necessarily true because the in-plan builder computes real
      // XXH32 checksums that the parser validates.
      """WITH src AS (
        |  SELECT doc_id AS id,
        |         ascii(substr(text, 1, 1)) AS b0,
        |         ascii(substr(text, 2, 1)) AS b1
        |  FROM documents WHERE length(text) >= 250)
        |SELECT id, CAST(1 AS INT) AS n_frames,
        |       CAST(CASE WHEN b0 % 3 = 0 THEN 1 ELSE 0 END AS INT)
        |         AS n_skippable,
        |       CAST((50 + b0 % 200 + b1 % 64) // (1 + b1 % 64) AS INT)
        |         AS n_blocks,
        |       CAST((50 + b0 % 200 + b1 % 64) // (1 + b1 % 64) AS INT)
        |         AS n_uncompressed,
        |       CAST(50 + b0 % 200 AS BIGINT) AS content_bytes,
        |       CAST(CASE b0 % 4 WHEN 0 THEN 64 WHEN 1 THEN 256
        |            WHEN 2 THEN 1024 ELSE 4096 END AS INT) AS block_max_kb,
        |       CAST(CASE WHEN b0 % 5 = 0 THEN 70000 + b1 ELSE 0 END AS BIGINT)
        |         AS dict_id,
        |       true AS content_ok
        |FROM src ORDER BY id""".stripMargin),
    // OPTIMIZE planner: small-file compaction groups from a file
    // inventory (one METADATA row per file) via per-partition
    // cumulative-size binning — the Delta/Iceberg bin-packer as one
    // window cumsum, no sequential driver loop. The plan relation
    // then drives the real rewrite jobs.
    QuerySpec("layout_compaction", (s, d) => {
      val inv = table(s, d, "documents").select(
        col("lang"),
        concat(lit("part-"), lpad(col("doc_id").cast("string"), 8, "0"),
          lit(".parquet")).as("file"),
        col("n_chars").as("bytes"))
      DataLayout.compactionPlan(inv, "file", "bytes",
        targetBytes = 4096, partitionCols = Seq("lang"))
        .orderBy("lang", "group_id")
    },
      // The same cumulative-size binning as one DuckDB window cumsum.
      """WITH inv AS (
        |  SELECT lang,
        |         'part-' || lpad(CAST(doc_id AS VARCHAR), 8, '0')
        |           || '.parquet' AS file,
        |         n_chars AS bytes
        |  FROM documents),
        |cum AS (
        |  SELECT lang, file, bytes,
        |         sum(bytes) OVER (PARTITION BY lang ORDER BY file
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM inv)
        |SELECT lang, CAST((cum - bytes) // 4096 AS BIGINT) AS group_id,
        |       count(*) AS n_files, CAST(sum(bytes) AS BIGINT) AS total_bytes,
        |       min(file) AS first_file, max(file) AS last_file
        |FROM cum GROUP BY lang, group_id
        |ORDER BY lang, group_id""".stripMargin),
    // Change data feed derived from plain snapshots (the inverse of
    // corpus_merge): one full-outer join on the storage key emits the
    // insert/delete/update stream a CDC consumer replays — unchanged
    // rows emit nothing. Snapshots and the update rule are pure
    // column arithmetic, so the oracle rebuilds both sides.
    QuerySpec("snapshot_cdf", (s, d) => {
      val docs = table(s, d, "documents")
      val old = docs.filter(col("doc_id") % 10 < 8)
        .select(col("doc_id"), col("text"))
      val nw = docs.filter(col("doc_id") % 10 > 1)
        .select(col("doc_id"),
          when(col("doc_id") % 3 === 0, concat(col("text"), lit("!")))
            .otherwise(col("text")).as("text"))
      Snapshot.changeDataFeed(old, nw, "doc_id", Seq("text"))
        .orderBy("doc_id")
    },
      // Both snapshots and the update rule rebuilt in SQL; unchanged
      // rows must emit nothing.
      """WITH oldt AS (
        |  SELECT doc_id, md5(text) AS old_fp FROM documents
        |  WHERE doc_id % 10 < 8),
        |newt AS (
        |  SELECT doc_id,
        |         md5(CASE WHEN doc_id % 3 = 0 THEN text || '!' ELSE text END)
        |           AS new_fp
        |  FROM documents WHERE doc_id % 10 > 1)
        |SELECT doc_id,
        |       CASE WHEN old_fp IS NULL THEN 'insert'
        |            WHEN new_fp IS NULL THEN 'delete'
        |            WHEN old_fp <> new_fp THEN 'update' END AS change_type,
        |       old_fp, new_fp
        |FROM oldt FULL OUTER JOIN newt USING (doc_id)
        |WHERE (CASE WHEN old_fp IS NULL THEN 'insert'
        |            WHEN new_fp IS NULL THEN 'delete'
        |            WHEN old_fp <> new_fp THEN 'update' END) IS NOT NULL
        |ORDER BY doc_id""".stripMargin),
    // Built-in format surface: documents → ORC / CSV / JSON-lines →
    // read back with explicit schema → identical per-format summaries
    // ⇔ lossless roundtrip (oracle states the expected summary once
    // per format from the parquet source).
    QuerySpec("format_roundtrip", (s, d) => {
      val p = tempDir("graft_formats")
      graft.sources.FormatSinks.roundtripSummary(
        table(s, d, "documents"), Seq("csv", "json", "orc"), p)
    },
      // Count-LM oracles: the same one-explode trigram-window relation,
      // re-derived in DuckDB as (a, b, c) position triples; backoff keys
      // are string concatenations, which equal the Spark side's
      // substring_index slices exactly because tokens are space-free
      // split fields. Trigram pruning (HAVING cnt >= 2) and the stupid-
      // backoff CASE ladder mirror LanguageModel.docPerplexity branch for
      // branch; float sums round to 4 (repo determinism convention).
      // Roundtrip oracle: the per-format summary must equal the parquet
      // source's summary for every format — stated once per format.
      """WITH s AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct_texts,
        |         CAST(sum(length(text)) AS BIGINT) AS total_chars,
        |         CAST(sum(doc_id) AS BIGINT) AS id_sum
        |  FROM documents)
        |SELECT 'csv' AS format, n_docs, n_distinct_texts, total_chars, id_sum FROM s
        |UNION ALL
        |SELECT 'json', n_docs, n_distinct_texts, total_chars, id_sum FROM s
        |UNION ALL
        |SELECT 'orc', n_docs, n_distinct_texts, total_chars, id_sum FROM s
        |ORDER BY format""".stripMargin),
    // JSONL ingest triage over a drifting dump (the codegen
    // json_field_types kernel: one byte scan per line, no parsed
    // tree): field × type counts including the string→number drift on
    // "n", optional fields, and the truncated-line malformed row —
    // what you check BEFORE committing spark.read.json to a schema.
    // The oracle rebuilds the identical lines and classifies them
    // with DuckDB's own strict JSON parser.
    QuerySpec("jsonl_field_census", (s, d) =>
      graft.sources.JsonLines.fieldCensus(jsonlFixture(s, d), "line"),
      // JSONL census replayed: identical line construction, DuckDB's
      // own strict JSON parser for validity, json_keys + json_type per
      // field (the two-arg json_type yields SQL NULL for a JSON null
      // value — coalesced to the 'null' tag).
      s"""$JsonlCtes
         |SELECT * FROM census ORDER BY key, vtype""".stripMargin),
    // Per-field schema decision card over the same dump: presence,
    // type arity, dominant type, monomorphic flag.
    QuerySpec("jsonl_schema_card", (s, d) =>
      graft.sources.JsonLines.schemaCard(jsonlFixture(s, d), "line"),
      s"""$JsonlCtes,
         |agg AS (
         |  SELECT key, CAST(sum(n) AS BIGINT) AS n_lines,
         |         CAST(count(*) AS BIGINT) AS n_types
         |  FROM census WHERE key <> '__malformed__' GROUP BY key),
         |top AS (
         |  SELECT key, vtype AS top_vtype FROM census
         |  WHERE key <> '__malformed__'
         |  QUALIFY row_number() OVER (PARTITION BY key
         |    ORDER BY n DESC, vtype) = 1)
         |SELECT a.key, a.n_lines, a.n_types, t.top_vtype,
         |       a.n_types = 1 AS monomorphic
         |FROM agg a JOIN top t USING (key) ORDER BY key""".stripMargin),
    // Typed extraction of the dump's valid lines with the schema the
    // card decided (id/lang/ok; "n" read as string — its observed
    // supertype under the number→string drift): from_json is
    // codegen'd and scan-local; malformed lines drop via the same
    // kernel validity gate, so the parse row count ties out against
    // the census. The oracle re-parses with DuckDB's json_extract.
    QuerySpec("jsonl_parse", (s, d) => {
      graft.functions.GraftFunctions.register(s)
      jsonlFixture(s, d)
        .filter(graft.functions.GraftFunctions
          .jsonFieldTypes(col("line")).isNotNull)
        .select(from_json(col("line"),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("lang",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("n",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("ok",
              org.apache.spark.sql.types.BooleanType)))).as("r"))
        .select(col("r.id").as("id"), col("r.lang").as("lang"),
          col("r.n").as("n"), col("r.ok").as("ok"))
        .orderBy("id")
    },
      s"""$JsonlCtes
         |SELECT CAST(json_extract(line, '$$.id') AS BIGINT) AS id,
         |       json_extract_string(line, '$$.lang') AS lang,
         |       json_extract_string(line, '$$.n') AS n,
         |       CAST(json_extract(line, '$$.ok') AS BOOLEAN) AS ok
         |FROM v ORDER BY id""".stripMargin),
    // CSV dialect sniffing — the tabular ingestion gate: per-file
    // delimiter (count-consistency scoring, quote-aware so embedded
    // delimiters inside quoted fields don't fool it), quoting, header
    // (two-row numeric heuristic), and column count from a bounded
    // sample. Four dialects built in-plan per document — the quoted
    // ones embed the delimiter INSIDE a quoted field, which a naive
    // raw-count sniffer miscounts. The oracle pins every expected
    // dialect arithmetically.
    QuerySpec("csv_sniff", (s, d) => {
      import s.implicits._
      table(s, d, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id").cast("long"))
        .as[Long]
        .map { id =>
          val nCols = (3 + id % 3).toInt
          val (delim, quoted) = (id % 4) match {
            case 0 => (",", true)
            case 1 => (";", false)
            case 2 => ("\t", false)
            case _ => ("|", true)
          }
          val hasHeader = id % 2 == 0
          def row(r: Int): String = (0 until nCols).map {
            case 0 if quoted => "\"x" + delim + "y\"" // embedded delimiter
            case 0 => s"x_$r"
            case 1 => s"${id + r}" // numeric field
            case j => s"t$j"
          }.mkString(delim)
          val header = (0 until nCols).map(j => s"c$j").mkString(delim)
          val sample = ((if (hasHeader) Seq(header) else Nil) ++
            (0 until 4).map(row)).mkString("\n")
          val dd = graft.sources.CsvSniff.sniff(sample).get
          (id, graft.sources.CsvSniff.delimiterName(dd.delimiter),
            dd.quoted, dd.header, dd.nCols.toLong)
        }
        .toDF("id", "delimiter", "quoted", "header", "n_cols")
        .orderBy("id")
    },
      // Expected dialects pinned from the builder residues.
      """SELECT doc_id AS id,
        |       CASE doc_id % 4 WHEN 0 THEN 'comma' WHEN 1 THEN 'semicolon'
        |            WHEN 2 THEN 'tab' ELSE 'pipe' END AS delimiter,
        |       (doc_id % 4 = 0 OR doc_id % 4 = 3) AS quoted,
        |       (doc_id % 2 = 0) AS header,
        |       CAST(3 + doc_id % 3 AS BIGINT) AS n_cols
        |FROM documents WHERE text IS NOT NULL ORDER BY id""".stripMargin)
  )
}
