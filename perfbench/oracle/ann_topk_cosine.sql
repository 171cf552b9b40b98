WITH q AS (SELECT vec_id AS query_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
        FROM embeddings WHERE vec_id < 5),
      c AS (SELECT vec_id AS neighbor_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
        FROM embeddings),
      scored AS (
        SELECT query_id, neighbor_id,
          list_dot_product(qv, cv) /
            (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cos
        FROM q JOIN c ON query_id <> neighbor_id)
      SELECT query_id, neighbor_id, round(cos, 6) AS cos_r FROM scored
      QUALIFY row_number() OVER (PARTITION BY query_id
        ORDER BY cos DESC, neighbor_id ASC) <= 3
      ORDER BY query_id, neighbor_id
