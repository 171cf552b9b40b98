WITH toks AS (
        SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk
        FROM documents),
      scores AS (
        SELECT doc_id, lang_code, hits FROM toks, LATERAL (VALUES
          ('de', len(list_filter(tk, x -> x IN ('der','die','und','das','ist','in','den','von','zu','mit','sich','des','auf','dem','nicht','ein','eine','als','auch','es','an','werden','aus','er','hat','dass','sie','nach')))),
          ('en', len(list_filter(tk, x -> x IN ('the','and','of','to','in','is','that','it','was','for','on','are','with','as','at','by','this','have','from','or','not','but','what','all','were','when','there','can','which','you')))),
          ('es', len(list_filter(tk, x -> x IN ('el','la','de','que','y','en','un','una','se','no','por','con','su','para','como','le','lo','todo','pero','este','los','las','del','al','sin','sobre','entre','muy')))),
          ('fr', len(list_filter(tk, x -> x IN ('le','la','et','les','des','en','un','une','du','que','est','pour','qui','dans','ce','il','au','pas','sur','ne','se','par','plus','avec','son','mais','nous','vous')))),
          ('it', len(list_filter(tk, x -> x IN ('il','la','di','che','e','in','un','una','per','con','non','sono','del','le','si','da','come','lo','al','dei','nel','questo','ma','se','ha','gli','anche','della')))),
          ('nl', len(list_filter(tk, x -> x IN ('de','het','een','en','van','in','is','dat','op','te','zijn','met','voor','niet','aan','er','om','maar','dan','ook','als','bij','uit','nog','door','naar','wordt','heeft')))),
          ('pt', len(list_filter(tk, x -> x IN ('o','a','de','que','e','do','da','em','um','uma','para','com','por','os','as','dos','se','na','no','mais','como','mas','foi','ele','das','tem','seu','sua'))))
        ) AS v(lang_code, hits)),
      best AS (
        SELECT doc_id, lang_code, hits, row_number() OVER (
          PARTITION BY doc_id ORDER BY hits DESC, lang_code DESC) AS rn
        FROM scores)
      SELECT doc_id, CASE WHEN hits = 0 THEN 'und' ELSE lang_code END AS pred_lang
      FROM best WHERE rn = 1 ORDER BY doc_id
