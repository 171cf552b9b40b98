WITH q AS (
        SELECT doc_id,
          text IS NULL AS no_text,
          least(length(text) / 500.0, 1.0) AS len_score,
          CASE WHEN len(regexp_split_to_array(lower(trim(text)), '\s+')) = 0 THEN 0.0
            ELSE len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
              x -> x IN ('the','and','of','to','in','is','that','it','was','for','on','are','with','as','at','by','this','have','from','or','not','but','what','all','were','when','there','can','which','you'))) * 1.0
              / len(regexp_split_to_array(lower(trim(text)), '\s+')) END AS sw,
          CASE WHEN length(text) = 0 THEN 0.0
            ELSE (length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g'))) * 1.0
              / length(text) END AS punct,
          CASE WHEN length(text) = 0 THEN 0.0
            ELSE (length(text) - length(regexp_replace(text, '[A-Z]', '', 'g'))) * 1.0
              / length(text) END AS up
        FROM documents)
      SELECT doc_id, CASE WHEN no_text THEN NULL ELSE greatest(0.0, least(1.0,
        len_score * 0.4 + sw * 0.3 + (1.0 - punct) * 0.2 + (1.0 - up) * 0.1)) END AS quality
      FROM q ORDER BY doc_id
