-- The streaming half of the stream_dedup workload: the DuckDB oracle of
-- each suites.Streaming entry, checked against the entry's output. Frozen
-- copies of the entries' oracle texts, so a change to the program cannot
-- change the benchmark's expected rows.

-- name: st01_tumbling_window
SELECT time_bucket(INTERVAL '1 day', CAST(ts AS TIMESTAMP)) AS w_start,
       event_type, count(*) AS cnt
FROM events
GROUP BY 1, 2
ORDER BY w_start, event_type;

-- name: st02_stream_dedup
SELECT event_type, count(DISTINCT event_id) AS n_unique
FROM events
GROUP BY event_type
ORDER BY event_type;

-- name: st03_session_window
WITH marked AS (
  SELECT user_id, ts,
    CASE WHEN lag(ts) OVER w IS NULL
           OR CAST(ts AS TIMESTAMP) - CAST(lag(ts) OVER w AS TIMESTAMP)
              >= INTERVAL '30 minutes'
         THEN 1 ELSE 0 END AS new_session
  FROM events WHERE user_id < 20
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
sessions AS (
  SELECT user_id,
    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM marked)
SELECT user_id,
  CAST(count(DISTINCT sid) AS BIGINT) AS n_sessions,
  count(*) AS n_events
FROM sessions
GROUP BY user_id
ORDER BY user_id;

-- name: st05_stream_stream_join
SELECT count(*) AS n_pairs
FROM events c
JOIN events p ON c.user_id = p.user_id
  AND c.event_type = 'click' AND p.event_type = 'purchase'
  AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL '30' MINUTE;

-- name: st06_foreachbatch_sink
SELECT event_type, count(*) AS cnt
FROM events
WHERE value > 50
GROUP BY event_type
ORDER BY event_type;

-- name: st07_map_groups_with_state
SELECT user_id, count(*) AS n_events, max(value) AS max_value
FROM events
WHERE user_id < 30
GROUP BY user_id
ORDER BY user_id;

-- name: st08_stream_tdigest
SELECT event_type, true AS p50_ok
FROM events
GROUP BY event_type
ORDER BY event_type;

-- name: st09_append_watermark_eviction
WITH wm AS (
  SELECT max(CAST(ts AS TIMESTAMP)) - INTERVAL '1 hour' AS w
  FROM events),
agg AS (
  SELECT time_bucket(INTERVAL '1 day', CAST(ts AS TIMESTAMP)) AS w_start,
         count(*) AS cnt
  FROM events GROUP BY 1)
SELECT w_start, cnt FROM agg, wm
WHERE w_start + INTERVAL '1 day' <= w
ORDER BY w_start;

-- name: st04_sliding_window
WITH expanded AS (
  SELECT unnest([
      time_bucket(INTERVAL '12 hours', CAST(ts AS TIMESTAMP)),
      time_bucket(INTERVAL '12 hours', CAST(ts AS TIMESTAMP))
        - INTERVAL '12 hours']) AS w_start,
    event_type
  FROM events)
SELECT w_start, event_type, count(*) AS cnt
FROM expanded
GROUP BY w_start, event_type
ORDER BY w_start, event_type;

-- name: st10_stream_static_join
SELECT c_mktsegment, count(*) AS cnt
FROM events
JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment
ORDER BY c_mktsegment;

-- name: st11_stream_stream_outer_join
WITH thr AS (
  SELECT least(
      (SELECT max(ts) FROM events WHERE event_type = 'click'),
      (SELECT max(ts) FROM events WHERE event_type = 'purchase'))
    - INTERVAL '1' HOUR - INTERVAL '30' MINUTE AS t)
SELECT
  CAST(count(*) AS BIGINT) AS n_rows,
  CAST(count(pu) AS BIGINT) AS n_matched,
  CAST(count(*) FILTER (WHERE pu IS NULL) AS BIGINT) AS n_unmatched
FROM (SELECT user_id AS cu, ts AS cts FROM events, thr
      WHERE event_type = 'click' AND ts < t) c
LEFT JOIN (SELECT user_id AS pu, ts AS pts FROM events
           WHERE event_type = 'purchase') p
  ON cu = pu AND pts >= cts
    AND pts < cts + INTERVAL '30' MINUTE;

-- name: st12_transform_with_state
SELECT user_id,
  CAST(count(*) AS BIGINT) AS n_events,
  CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
  sum(value) AS total_value
FROM events
WHERE user_id < 30
GROUP BY user_id
ORDER BY user_id;
