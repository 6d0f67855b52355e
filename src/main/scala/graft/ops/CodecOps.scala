package graft.ops

import graft.{QueryDef, Tables}
import graft.Materialize.pin
import graft.core.{Codec, Flow, Tar}
import org.apache.spark.sql.functions._

/** Compression codec gates — the engine's answer to the reference's
  * headline README example (`/root/reference/README.md:10-13`:
  * `read("file.gz").inflate(Format.gzip)...deflate(...).write(...)`,
  * via the flod-zlib companion). The stages themselves live in
  * [[graft.core.Codec]] / [[graft.core.Flow]]; this gate proves the
  * round trip against a DuckDB oracle that knows the ORIGINAL corpus
  * arithmetically — so any slip anywhere in deflate → inflate (a bad
  * member header, a dropped trailer byte, a mis-stitched multi-member
  * boundary) changes the decoded bytes and breaks the row hash.
  */
object CodecOps {

  def defs: Seq[QueryDef] = Seq(

    // Arm 1_doc (×5 formats — gzip/zlib/raw/zstd/lz4, DISTRIBUTED): every document's UTF-8 bytes
    // compress into one independent member and decompress back, per
    // partition in the scan's own layout — payload bytes never shuffle
    // (only the 8-byte per-format aggregates do), so the arm is the
    // 100 TB shape: embarrassingly parallel codec work, O(doc) memory.
    // digest = SUM of a per-doc md5 prefix over the DECODED text — an
    // order-independent corpus fingerprint the oracle recomputes from
    // the original text, so fidelity is checked byte-for-byte without
    // any global concat.
    // Arm 2_stream (gzip, BOUNDED): the flod single-ordered-stream
    // semantic — members concatenate into one stream, Flow.inflate
    // restitches them per partition, and a driver-side MD5 runs over
    // the re-chunked output (the reference's terminals are driver-side
    // too; the slice is bounded at 200 docs by construction, so the
    // driver cost is O(slice), never O(corpus)).
    QueryDef("q320_codec_roundtrip",
      (s, d) => {
        import s.implicits._
        val docs = Tables.documents(s, d).select("doc_id", "text")
        val formats = Seq(("gzip", Codec.Gzip: Codec.Format),
          ("lz4", Codec.Lz4: Codec.Format), ("raw", Codec.Raw: Codec.Format),
          ("zlib", Codec.Zlib: Codec.Format), ("zstd", Codec.Zstd: Codec.Format))
        // the scan is one task per file (a single file at larger SFs) and
        // the per-doc work (5-format compress+decompress) is HEAVY — so
        // the text column repartitions ONCE to full parallelism before
        // the codec map (q294's lesson; here the payload IS the text, so
        // the one-time corpus shuffle is the price of 32-way codec work,
        // and it is shared by all five format arms via the same lineage)
        val spread = docs.select("text").as[String]
          .repartition(s.sparkContext.defaultParallelism)
        val perDoc = formats.map { case (label, fmt) =>
          spread
            .mapPartitions(_.map { t =>
              val orig = t.getBytes("UTF-8")
              val back = Codec.inflateAll(Codec.deflateChunk(orig, fmt), fmt)
              (java.util.Arrays.equals(orig, back), back.length.toLong,
                new String(back, "UTF-8"))
            })
            .toDF("ok", "len", "dec")
            .agg(count(lit(1)).as("n_docs"),
              sum(when(col("ok"), 1L).otherwise(0L)).as("n_ok"),
              sum(col("len")).as("sum_bytes"),
              sum(conv(substring(md5(col("dec").cast("binary")), 1, 8), 16, 10)
                .cast("long")).as("digest"))
            .select(lit("1_doc").as("arm"), lit(label).as("format"),
              col("n_docs"), col("n_ok"), col("sum_bytes"), col("digest"))
        }
        val streamRow = {
          val slice = docs.where(col("doc_id") < 200)
          val nDocs = slice.count()
          val members = slice.orderBy("doc_id").select("text").as[String]
            .map(_.getBytes("UTF-8"))
          val flow = new Flow(members.coalesce(1))
            .deflate(Codec.Gzip).inflate(Codec.Gzip, 1 << 16)
          val mdig = java.security.MessageDigest.getInstance("MD5")
          var n = 0L
          flow.toIterator.foreach { c => n += c.length; mdig.update(c) }
          val hex = mdig.digest().take(4).map(b => f"${b & 0xff}%02x").mkString
          Seq(("2_stream", "gzip", nDocs, nDocs, n,
            java.lang.Long.parseLong(hex, 16)))
            .toDF("arm", "format", "n_docs", "n_ok", "sum_bytes", "digest")
        }
        (perDoc :+ streamRow).reduce(_ unionByName _).orderBy("arm", "format")
      },
      Some("""WITH f AS (SELECT unnest(['gzip', 'lz4', 'raw', 'zlib', 'zstd'])
             |    AS format),
             |d AS (
             |  SELECT COUNT(*) AS n_docs, COUNT(*) AS n_ok,
             |    CAST(SUM(octet_length(encode(text))) AS BIGINT) AS sum_bytes,
             |    CAST(SUM(CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT))
             |      AS BIGINT) AS digest
             |  FROM documents),
             |st AS (
             |  SELECT COUNT(*) AS n_docs, COUNT(*) AS n_ok,
             |    CAST(SUM(octet_length(encode(text))) AS BIGINT) AS sum_bytes,
             |    CAST(('0x' || substr(md5(string_agg(text, '' ORDER BY doc_id)),
             |      1, 8)) AS BIGINT) AS digest
             |  FROM documents WHERE doc_id < 200)
             |SELECT '1_doc' AS arm, format, n_docs, n_ok, sum_bytes, digest
             |FROM d CROSS JOIN f
             |UNION ALL
             |SELECT '2_stream', 'gzip', n_docs, n_ok, sum_bytes, digest FROM st
             |ORDER BY arm, format""".stripMargin)),

    // Compressed-ARCHIVE read path — "stream sequences / archives", the
    // reference's own unshipped roadmap item (README.md:45), composed
    // from the two stages above: 8 real .tar.gz files (USTAR archives,
    // gzip members; a bounded 400-doc fixture slice, assembled driver-
    // side exactly like q144 plants its scratch files) are read back
    // DISTRIBUTED — one partition per archive file, streamed in 64 KB
    // chunks → per-partition multi-member inflate → per-partition
    // validating untar (header checksums) — and every extracted member
    // must match the original document byte-for-byte (id parsed from
    // the member name; per-row length + md5-prefix digest vs the
    // oracle's arithmetic over `documents`). The READ side is the
    // 100 TB shape: one task per archive, no shuffle, O(member) memory,
    // nothing driver-side beyond the sorted file list. Pin
    // before scratch cleanup (q144's hygiene).
    QueryDef("q323_archive_extract",
      (s, d) => {
        import s.implicits._
        val slice = Tables.documents(s, d)
          .where(col("doc_id") < 400).select("doc_id", "text")
          .as[(Long, String)].collect().sortBy(_._1)
        val dir = java.nio.file.Files.createTempDirectory("graft-tgz")
        try {
          slice.groupBy(_._1 % 8).foreach { case (k, docs) =>
            val arch = Tar.archive(docs.toSeq.map { case (id, t) =>
              (s"doc-$id.txt", t.getBytes("UTF-8")) })
            java.nio.file.Files.write(dir.resolve(f"shard-$k%02d.tar.gz"),
              Codec.deflateChunk(arch, Codec.Gzip))
          }
          implicit val pe: org.apache.spark.sql.Encoder[(String, Array[Byte])] =
            org.apache.spark.sql.Encoders.tuple(
              org.apache.spark.sql.Encoders.STRING,
              org.apache.spark.sql.Encoders.BINARY)
          Flow.readBytes(s, dir.toString + "/*.tar.gz")
            .inflate(Codec.Gzip).untar.ds
            .map { case (name, content) =>
              (name.stripPrefix("doc-").stripSuffix(".txt").toLong,
                content.length.toLong, new String(content, "UTF-8"))
            }
            .toDF("doc_id", "n_bytes", "dec")
            .select(col("doc_id"), col("n_bytes"),
              conv(substring(md5(col("dec").cast("binary")), 1, 8), 16, 10)
                .cast("long").as("digest"))
            .orderBy("doc_id")
            .transform(pin)
        } finally {
          java.nio.file.Files.list(dir).forEach(p => java.nio.file.Files.delete(p))
          java.nio.file.Files.delete(dir)
        }
      },
      Some("""SELECT doc_id,
             |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
             |  CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) AS digest
             |FROM documents WHERE doc_id < 400 ORDER BY doc_id""".stripMargin)),

    // WebDataset-style shard round trip — the de-facto LLM training-
    // data layout: each sample is a GROUP OF ADJACENT tar members
    // sharing a basename ("00000042.txt" + "00000042.cls"), shards are
    // .tar.zst files. The WRITE side is fully distributed
    // (Tar.writeShardsCompressed: executor-streamed zstd tar per
    // partition; the flatMap that splits a row into its members runs
    // AFTER the shard repartition, so a sample's members are adjacent
    // in partition order by construction — the WebDataset contract).
    // The READ side is the q323 path (one chunked stream per shard →
    // zstd inflate → validating untar) plus sample reassembly by
    // basename; the oracle re-derives text digest + class field per
    // doc, so a dropped member, a broken adjacency split mid-sample, or
    // any codec slip breaks rows. Scratch hygiene: pin before
    // cleanup (q144).
    QueryDef("q327_webdataset_roundtrip",
      (s, d) => {
        import s.implicits._
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), col("text"), col("lang"))
        val dir = java.nio.file.Files.createTempDirectory("graft-wds").toString
        try {
          implicit val pe: org.apache.spark.sql.Encoder[(String, Array[Byte])] =
            org.apache.spark.sql.Encoders.tuple(
              org.apache.spark.sql.Encoders.STRING,
              org.apache.spark.sql.Encoders.BINARY)
          val members = docs.repartition(8, pmod(col("doc_id"), lit(8)))
            .as[(Long, String, String)]
            .flatMap { case (id, t, l) => Seq(
              (f"$id%08d.txt", t.getBytes("UTF-8")),
              (f"$id%08d.cls", l.getBytes("UTF-8"))) }
          graft.core.Tar.writeShardsCompressed(members, dir, Some(Codec.Zstd))
          Flow.readBytes(s, dir + "/*.tar.zst")
            .inflate(Codec.Zstd).untar.ds
            .map { case (name, content) =>
              // split on the LAST '.' — fixed offsets would silently
              // misalign once doc_id widens past the %08d field
              val dot = name.lastIndexOf('.')
              (name.substring(0, dot).toLong, name.substring(dot + 1),
                new String(content, "UTF-8"))
            }
            .toDF("doc_id", "ext", "payload")
            .groupBy("doc_id")
            .agg(count(lit(1)).as("n_fields"),
              max(when(col("ext") === "txt",
                conv(substring(md5(col("payload").cast("binary")), 1, 8), 16, 10)
                  .cast("long"))).as("digest"),
              max(when(col("ext") === "cls", col("payload"))).as("lang"))
            .orderBy("doc_id")
            .transform(pin)
        } finally {
          java.nio.file.Files.list(java.nio.file.Paths.get(dir))
            .forEach(p => java.nio.file.Files.delete(p))
          java.nio.file.Files.delete(java.nio.file.Paths.get(dir))
        }
      },
      Some("""SELECT doc_id, CAST(2 AS BIGINT) AS n_fields,
             |  CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) AS digest,
             |  lang
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // HTTP(S) source — the flod-curl analog, the reference's FIRST
    // external package (`/root/reference/README.md:58`: "download
    // files from the web using libcurl"; its headline composition is
    // `read(url).inflate...`). Four .tar.gz shards of a bounded
    // 300-doc fixture slice are served by an in-process localhost
    // HTTP server (the q144/q323 scratch-fixture pattern, over a
    // socket instead of a directory), then read back DISTRIBUTED:
    // Flow.readUrls pins ONE URL PER PARTITION, so the 4 fetches run
    // as 4 parallel executor tasks and each body is one ordered
    // per-partition chunk stream — exactly the layout inflate+untar
    // restitch. chunkSize=4096 forces every shard through MANY chunks
    // (multi-read streaming, not one lucky slurp), and each extracted
    // member must match the original document byte-for-byte (md5-
    // prefix digest vs the oracle's arithmetic over `documents`), with
    // the shard attribution proving which url carried it. At 100 TB
    // this is the ingest shape: n urls → n tasks, O(chunk) memory,
    // nothing through the driver. Pin before the server
    // stops (the q144 hygiene — the result must not depend on scratch
    // infrastructure outliving query construction).
    QueryDef("q352_http_fetch",
      (s, d) => {
        import s.implicits._
        val slice = Tables.documents(s, d)
          .where(col("doc_id") < 300).select("doc_id", "text")
          .as[(Long, String)].collect().sortBy(_._1)
        val shards = slice.groupBy(_._1 % 4).toSeq.sortBy(_._1)
          .map { case (k, docs) =>
            k -> Codec.deflateChunk(Tar.archive(docs.toSeq.map {
              case (id, t) => (s"doc-$id.txt", t.getBytes("UTF-8"))
            }), Codec.Gzip)
          }
        val server = com.sun.net.httpserver.HttpServer.create(
          new java.net.InetSocketAddress("127.0.0.1", 0), 0)
        val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
        server.setExecutor(pool) // parallel fetches must not serialize
        try {
          shards.foreach { case (k, bytes) =>
            server.createContext(s"/shard-$k.tar.gz",
              (ex: com.sun.net.httpserver.HttpExchange) => {
                ex.sendResponseHeaders(200, bytes.length.toLong)
                try ex.getResponseBody.write(bytes) finally ex.close()
              })
          }
          server.start()
          val port = server.getAddress.getPort
          val urls = shards.map { case (k, _) =>
            s"http://127.0.0.1:$port/shard-$k.tar.gz" }
          implicit val pe: org.apache.spark.sql.Encoder[(String, Array[Byte])] =
            org.apache.spark.sql.Encoders.tuple(
              org.apache.spark.sql.Encoders.STRING,
              org.apache.spark.sql.Encoders.BINARY)
          Flow.readUrls(s, urls, chunkSize = 4096)
            .inflate(Codec.Gzip).untar.ds
            .map { case (name, content) =>
              val id = name.stripPrefix("doc-").stripSuffix(".txt").toLong
              (id, id % 4, content.length.toLong,
                new String(content, "UTF-8"))
            }
            .toDF("doc_id", "shard", "n_bytes", "dec")
            .select(col("doc_id"), col("shard"), col("n_bytes"),
              conv(substring(md5(col("dec").cast("binary")), 1, 8), 16, 10)
                .cast("long").as("digest"))
            .orderBy("doc_id")
            .transform(pin)
        } finally {
          server.stop(0)
          pool.shutdown()
        }
      },
      Some("""SELECT doc_id, doc_id % 4 AS shard,
             |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
             |  CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) AS digest
             |FROM documents WHERE doc_id < 300 ORDER BY doc_id""".stripMargin)))
}
