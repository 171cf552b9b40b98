WITH RECURSIVE tk AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        FROM documents WHERE doc_id < 500),
      sh AS (
        SELECT doc_id, unnest(list_distinct(CASE WHEN len(t) <= 2
          THEN [array_to_string(t, ' ')]
          ELSE [array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)]
          END)) AS s
        FROM tk),
      sig AS (
        SELECT doc_id,
          min(md5('0#' || s)) AS m0, min(md5('1#' || s)) AS m1,
          min(md5('2#' || s)) AS m2, min(md5('3#' || s)) AS m3,
          min(md5('4#' || s)) AS m4, min(md5('5#' || s)) AS m5,
          min(md5('6#' || s)) AS m6, min(md5('7#' || s)) AS m7
        FROM sh GROUP BY doc_id),
      banded AS (
        SELECT doc_id, band, bv FROM sig, LATERAL (VALUES
          (0, m0 || '|' || m1), (1, m2 || '|' || m3),
          (2, m4 || '|' || m5), (3, m6 || '|' || m7)) AS v(band, bv)),
      pairs AS (
        SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
        FROM banded l JOIN banded r
          ON l.band = r.band AND l.bv = r.bv AND l.doc_id < r.doc_id),
      edges AS (
        SELECT a AS x, b AS y FROM pairs UNION SELECT b, a FROM pairs),
      reach(x, y) AS (
        SELECT x, y FROM edges
        UNION
        SELECT r.x, e.y FROM reach r JOIN edges e ON r.y = e.x AND e.y <> r.x)
      SELECT x AS doc_id, least(x, min(y)) AS cluster_id
      FROM reach GROUP BY x ORDER BY doc_id
