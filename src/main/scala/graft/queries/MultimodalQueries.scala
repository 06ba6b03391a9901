package graft
package queries

import graft.operators._

/** Multimodal binary-column plumbing. */
object MultimodalQueries {

  val all: Seq[QueryDef] = Seq(
    QueryDef("q_multimodal_meta", (s, dir) => Multimodal.payloadMeta(Tables.documents(s, dir)),
      """SELECT doc_id, octet_length(encode(text)) AS n_bytes,
        |  md5(text) AS content_md5, 'fake/' || source AS format
        |FROM documents""".stripMargin),
    // Undecodable payloads surface as NULL features + decodable=false —
    // closed-form for the oracle (testdata payloads are all `fake/*`).
    QueryDef("mm_features", (s, dir) => Multimodal.featuresOf(s, Tables.documents(s, dir)),
      // The testdata's payloads all carry `fake/*` formats, which no shipped
      // codec decodes — so every row is honestly marked undecodable: NULL
      // features + decodable=false, all predictable in closed form (the
      // container metadata — byte length, format — stays real).
      """SELECT doc_id, octet_length(encode(text)) AS n_bytes,
        |  'fake/' || source AS format, FALSE AS decodable,
        |  CAST(NULL AS INTEGER) AS width, CAST(NULL AS INTEGER) AS height,
        |  CAST(NULL AS INTEGER) AS n_frames,
        |  CAST(NULL AS INTEGER) AS sample_rate,
        |  CAST(NULL AS INTEGER) AS channels,
        |  CAST(NULL AS BIGINT) AS duration_ms,
        |  CAST(NULL AS DOUBLE) AS luma_mean
        |FROM documents""".stripMargin),
    // The deterministically-decodable half of the multimodal surface,
    // full-oracle: real MP4/AVI/BMP containers built per doc id, decoded by
    // the production parsers, every field a closed form of doc_id.
    QueryDef("q_mm_decoded", (s, dir) => Multimodal.decodedFeatures(s, Tables.documents(s, dir)),
      // Closed-form replay of the real-container round-trip: the engine
      // builds MP4/AVI/BMP payloads whose every header field is a fixed
      // arithmetic function of doc_id and decodes them with the production
      // parsers; the oracle computes the same functions directly. Luma is a
      // solid-color BMP, so (299r+587g+114b)/1000.0 is exact in both engines
      // (one double division of an exact integer).
      """WITH p AS (SELECT doc_id, doc_id % 3 AS m,
        |    doc_id % 31 + 2 AS w, doc_id % 17 + 2 AS h,
        |    299*((doc_id*37)%256) + 587*((doc_id*59)%256) + 114*((doc_id*83)%256) AS k,
        |    doc_id % 50 + 1 AS frames, 20000 + (doc_id % 100)*100 AS uspf
        |  FROM documents)
        |SELECT doc_id, w AS width, h AS height,
        |  CASE m WHEN 0 THEN 0 WHEN 1 THEN frames ELSE 1 END AS n_frames,
        |  CASE m WHEN 0 THEN doc_id % 9000 + 500
        |    WHEN 1 THEN (uspf * frames) // 1000 ELSE 0 END AS duration_ms,
        |  CASE WHEN m = 0 THEN 0.0
        |    ELSE CAST(k AS DOUBLE) / 1000.0 END AS luma_mean
        |FROM p""".stripMargin),
  )
}
