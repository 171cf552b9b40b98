WITH v AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
        FROM embeddings),
      b AS (SELECT vec_id, dv, ((CASE WHEN list_dot_product(dv, list_transform(range(0, len(dv)), d ->
         ((((48271 * ((48271 * ((((7 + d) % 2147483647) * ((7 + d) % 2147483647)) % 2147483647) + 12345) % 2147483647)
           + 12345) % 2147483647) % 2000001) - 1000000) / 1000000.0)) > 0 THEN 1 ELSE 0 END) + (CASE WHEN list_dot_product(dv, list_transform(range(0, len(dv)), d ->
         ((((48271 * ((48271 * ((((4106 + d) % 2147483647) * ((4106 + d) % 2147483647)) % 2147483647) + 12345) % 2147483647)
           + 12345) % 2147483647) % 2000001) - 1000000) / 1000000.0)) > 0 THEN 2 ELSE 0 END) + (CASE WHEN list_dot_product(dv, list_transform(range(0, len(dv)), d ->
         ((((48271 * ((48271 * ((((8205 + d) % 2147483647) * ((8205 + d) % 2147483647)) % 2147483647) + 12345) % 2147483647)
           + 12345) % 2147483647) % 2000001) - 1000000) / 1000000.0)) > 0 THEN 4 ELSE 0 END) + (CASE WHEN list_dot_product(dv, list_transform(range(0, len(dv)), d ->
         ((((48271 * ((48271 * ((((12304 + d) % 2147483647) * ((12304 + d) % 2147483647)) % 2147483647) + 12345) % 2147483647)
           + 12345) % 2147483647) % 2000001) - 1000000) / 1000000.0)) > 0 THEN 8 ELSE 0 END)) AS bucket FROM v),
      pairs AS (
        SELECT l.vec_id AS a, r.vec_id AS b,
          list_dot_product(l.dv, r.dv) /
            (sqrt(list_dot_product(l.dv, l.dv)) * sqrt(list_dot_product(r.dv, r.dv))) AS cos
        FROM b l JOIN b r ON l.bucket = r.bucket AND l.vec_id < r.vec_id)
      SELECT a, b, round(cos, 6) AS cos_r FROM pairs WHERE cos >= 0.22
      ORDER BY a, b
