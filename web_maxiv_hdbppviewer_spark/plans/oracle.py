"""DuckDB oracle SQL for the declared queries (SURVEY.md §2.11).

Every string is ANSI-ish SQL runnable by DuckDB over the pre-registered
testdata views. The expression SHAPES mirror plans/queries.py exactly
(same IEEE operations in the same order) so float results are bit-identical,
not merely close; aggregation-order-sensitive sums are rounded at the data's
decimal grid (see queries.q8).

EPOCH_US(ts) from the survey macro is spelled ``epoch_us(ts)`` here
(DuckDB) and ``unix_micros(ts)`` on the Spark side.
"""

CORE_ORACLE = {
    "q1": """
        SELECT event_id, user_id, epoch_us(ts) AS t_us, value
        FROM events ORDER BY event_id
    """,
    "q2": """
        SELECT event_id, user_id, value FROM events
        WHERE ts >= TIMESTAMP '2024-01-15 00:00:00' ORDER BY event_id
    """,
    "q3": "SELECT n_nationkey, n_name FROM nation ORDER BY n_name",
    "q4": "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",
    "q5": """
        SELECT event_id, epoch_us(ts) AS t_us,
               CAST(FLOOR(epoch_us(ts) / 1000.0) AS BIGINT) AS t_ms
        FROM events ORDER BY event_id
    """,
    "q6": """
        SELECT n_nationkey,
               LOWER(CONCAT(r_name, '/', n_name)) AS full_name,
               SPLIT_PART(CONCAT(r_name, '/', n_name), '/', 1) AS cs
        FROM nation JOIN region ON n_regionkey = r_regionkey
        ORDER BY n_nationkey
    """,
    "q7": """
        SELECT event_id, COALESCE(value, -1.0) AS v
        FROM events ORDER BY event_id
    """,
    "q8": """
        SELECT COUNT(*) AS n, ROUND(SUM(value), 2) AS s FROM events
        WHERE ts BETWEEN TIMESTAMP '2024-01-10 00:00:00'
                     AND TIMESTAMP '2024-01-20 00:00:00'
    """,
    "q9": """
        SELECT p_partkey, p_name FROM part
        WHERE UPPER(p_name) LIKE '%RED%' ORDER BY p_name, p_partkey LIMIT 100
    """,
    "q10": """
        SELECT user_id, ROUND(MIN(value), 6) AS vmin, ROUND(MAX(value), 6) AS vmax
        FROM events WHERE value > 50.0 GROUP BY user_id ORDER BY user_id
    """,
    "q11": """
        SELECT user_id, epoch_us(MAX(ts)) AS watermark_us
        FROM events GROUP BY user_id ORDER BY user_id
    """,
    "q12": """
        SELECT event_id, event_type FROM events
        WHERE ts > TIMESTAMP '2024-01-05 00:00:00'
          AND ts < TIMESTAMP '2024-01-25 00:00:00'
        ORDER BY ts, event_id LIMIT 10
    """,
    "q13": """
        SELECT user_id, event_id, value FROM (
          SELECT user_id, event_id, value,
                 ROW_NUMBER() OVER (PARTITION BY user_id
                                    ORDER BY ts DESC, event_id DESC) AS rn
          FROM events WHERE ts < TIMESTAMP '2024-01-15 00:00:00'
        ) WHERE rn = 1 ORDER BY user_id
    """,
    "q14": """
        SELECT c_custkey, c_name, n_name, r_name
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        ORDER BY c_custkey
    """,
    "q15": """
        SELECT o_orderkey FROM orders WHERE EXISTS (
          SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey
          AND l_shipdate > TIMESTAMP '1995-01-01 00:00:00')
        ORDER BY o_orderkey
    """,
    "q16": """
        SELECT c_custkey FROM customer
        WHERE c_custkey NOT IN (
          SELECT o_custkey FROM orders WHERE o_totalprice > 300000)
        ORDER BY c_custkey
    """,
    "q17": """
        SELECT o_orderkey, COUNT(*) AS n
        FROM orders JOIN lineitem
          ON l_orderkey = o_orderkey
          AND l_shipdate >= o_orderdate
          AND l_shipdate < o_orderdate + INTERVAL 90 DAY
        GROUP BY o_orderkey ORDER BY o_orderkey
    """,
    "q18": """
        SELECT CAST(round_even(epoch_us(ts) / 86400000000.0, 0) AS BIGINT) AS bucket,
               ROUND(AVG(value), 6) AS mean_v, COUNT(*) AS n
        FROM events GROUP BY bucket ORDER BY bucket
    """,
    "q19": """
        SELECT ROUND(MIN(value), 6) AS axis_min, ROUND(MAX(value), 6) AS axis_max
        FROM events WHERE event_type IN ('click', 'view')
    """,
    "q20": """
        -- canvas clip is INCLUSIVE both ends with the upper edge snapped
        -- into the last bin (datashader map_onto_pixel; engine bin_2d r13)
        WITH b AS (
          SELECT LEAST(CAST(FLOOR((epoch_us(ts) - 1704067200000000)
                            / 2592000000000.0 * 100) AS INT), 99) AS xb,
                 LEAST(CAST(FLOOR((value - 0.0) / 500.0 * 80) AS INT), 79)
                   AS yb,
                 value
          FROM events
          WHERE value >= 0.0 AND value <= 500.0
            AND epoch_us(ts) >= 1704067200000000
            AND epoch_us(ts) <= 1704067200000000 + 2592000000000)
        SELECT xb, yb, COUNT(*) AS cnt, ROUND(AVG(value), 6) AS vmean,
               ROUND(MIN(value), 6) AS vmin, ROUND(MAX(value), 6) AS vmax
        FROM b GROUP BY xb, yb ORDER BY xb, yb
    """,
    "q21": """
        WITH b AS (
          SELECT LEAST(CAST(FLOOR((epoch_us(ts) - 1704067200000000)
                            / 2592000000000.0 * 100) AS INT), 99) AS xb,
                 value
          FROM events
          WHERE value >= 0.0 AND value <= 500.0
            AND epoch_us(ts) >= 1704067200000000
            AND epoch_us(ts) <= 1704067200000000 + 2592000000000)
        SELECT xb, COUNT(*) AS cnt, ROUND(MIN(value), 6) AS vmin,
               ROUND(MAX(value), 6) AS vmax
        FROM b GROUP BY xb HAVING COUNT(*) > 0 ORDER BY xb
    """,
    "q22": """
        SELECT epoch_us(ts) AS t_us, value AS value_r FROM events
        WHERE user_id = 7 ORDER BY t_us, event_id
    """,
    "q23": """
        SELECT user_id, CAST(FLOOR(epoch_us(ts) / 1000.0) AS BIGINT) AS t_ms, value
        FROM events ORDER BY user_id, t_ms, event_id
    """,
    "q24": """
        SELECT r_name, n_name FROM region JOIN nation ON n_regionkey = r_regionkey
        ORDER BY r_name, n_name
    """,
    "q25": """
        SELECT event_type, COUNT(DISTINCT user_id) AS u
        FROM events GROUP BY event_type ORDER BY event_type
    """,
    "q26": """
        SELECT COALESCE(event_type, 'ALL') AS et, COUNT(*) AS n
        FROM events GROUP BY ROLLUP(event_type) ORDER BY et
    """,
    "q27": """
        SELECT event_id,
               ROUND(value - LAG(value) OVER (PARTITION BY user_id
                                              ORDER BY ts, event_id), 6) AS dv,
               ROUND(AVG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6) AS ma5
        FROM events ORDER BY event_id
    """,
    "q28": """
        SELECT x FROM (
          SELECT c_nationkey AS x FROM customer
          INTERSECT
          SELECT s_nationkey FROM supplier
        ) ORDER BY x
    """,
    # mirrors sources.fixtures.mixed_type_datapoints + operators.typed.
    # typed_summary: the mixed-type frame is rebuilt verbatim, then the same
    # kind-dispatched aggregates (FILTER clauses <-> kind-guarded CASE aggs)
    "q29": """
        WITH dp AS (
          SELECT user_id AS att_conf_id,
                 CASE CAST(user_id % 4 AS INT)
                   WHEN 0 THEN 'scalar_devdouble_ro'
                   WHEN 1 THEN 'scalar_devstring_ro'
                   WHEN 2 THEN 'scalar_devstate_ro'
                   ELSE 'array_devdouble_ro' END AS data_type,
                 ts,
                 CASE WHEN user_id % 4 = 0 AND event_type != 'error'
                      THEN value END AS value_r,
                 CASE WHEN user_id % 4 = 1 AND event_type != 'error'
                      THEN event_type
                      WHEN user_id % 4 = 2 AND event_type != 'error'
                      THEN (CASE WHEN value >= 50 THEN 'ON' ELSE 'FAULT' END)
                 END AS value_str,
                 CASE WHEN user_id % 4 = 3 AND event_type != 'error'
                      THEN [value, value * 0.5, value * 2] END AS value_arr,
                 CASE WHEN event_type = 'error'
                      THEN 'fixture error sample' END AS error_desc
          FROM events),
        typed AS (
          SELECT *,
                 CASE WHEN data_type LIKE 'array_%' THEN 'spectrum'
                      WHEN regexp_extract(data_type,
                             '^(?:scalar|array)_dev([a-z0-9]+)_(?:ro|rw)$', 1)
                           IN ('double','float','long','long64','short',
                               'uchar','ulong','ulong64','ushort')
                      THEN 'numeric'
                      ELSE 'discrete' END AS kind
          FROM dp)
        SELECT att_conf_id, data_type, kind,
               CAST(COUNT(*) FILTER (WHERE error_desc IS NULL) AS BIGINT) AS n,
               CAST(COUNT(*) FILTER (WHERE error_desc IS NOT NULL) AS BIGINT) AS n_err,
               MIN(value_r) FILTER (WHERE kind = 'numeric') AS vmin,
               MAX(value_r) FILTER (WHERE kind = 'numeric') AS vmax,
               ROUND(AVG(value_r) FILTER (WHERE kind = 'numeric'), 6) AS vmean,
               arg_max(value_str, ts)
                 FILTER (WHERE kind = 'discrete' AND value_str IS NOT NULL
                           AND error_desc IS NULL) AS last_str,
               CAST(COUNT(DISTINCT value_str)
                 FILTER (WHERE kind = 'discrete' AND error_desc IS NULL)
                 AS BIGINT) AS n_distinct,
               ROUND(AVG(len(value_arr))
                 FILTER (WHERE kind = 'spectrum' AND error_desc IS NULL), 6)
                 AS mean_len,
               MIN(list_min(value_arr)) FILTER (WHERE kind = 'spectrum') AS el_min,
               MAX(list_max(value_arr)) FILTER (WHERE kind = 'spectrum') AS el_max
        FROM typed
        GROUP BY att_conf_id, data_type, kind
        ORDER BY att_conf_id
    """,
    # q29's typed summary with the rw write-value surface: the numeric
    # class is scalar_devdouble_rw carrying value_w = value*0.75 + 10.0 on
    # ok rows; write aggregates guarded to that class, tracking error =
    # mean(value_r - value_w) rounded at the output boundary
    "q35": """
        WITH dp AS (
          SELECT user_id AS att_conf_id,
                 CASE CAST(user_id % 4 AS INT)
                   WHEN 0 THEN 'scalar_devdouble_rw'
                   WHEN 1 THEN 'scalar_devstring_ro'
                   WHEN 2 THEN 'scalar_devstate_ro'
                   ELSE 'array_devdouble_ro' END AS data_type,
                 ts,
                 CASE WHEN user_id % 4 = 0 AND event_type != 'error'
                      THEN value END AS value_r,
                 CASE WHEN user_id % 4 = 0 AND event_type != 'error'
                      THEN value * 0.75 + 10.0 END AS value_w,
                 CASE WHEN user_id % 4 = 1 AND event_type != 'error'
                      THEN event_type
                      WHEN user_id % 4 = 2 AND event_type != 'error'
                      THEN (CASE WHEN value >= 50 THEN 'ON' ELSE 'FAULT' END)
                 END AS value_str,
                 CASE WHEN user_id % 4 = 3 AND event_type != 'error'
                      THEN [value, value * 0.5, value * 2] END AS value_arr,
                 CASE WHEN event_type = 'error'
                      THEN 'fixture error sample' END AS error_desc
          FROM events),
        typed AS (
          SELECT *,
                 CASE WHEN data_type LIKE 'array_%' THEN 'spectrum'
                      WHEN regexp_extract(data_type,
                             '^(?:scalar|array)_dev([a-z0-9]+)_(?:ro|rw)$', 1)
                           IN ('double','float','long','long64','short',
                               'uchar','ulong','ulong64','ushort')
                      THEN 'numeric'
                      ELSE 'discrete' END AS kind
          FROM dp)
        SELECT att_conf_id, data_type, kind,
               CAST(COUNT(*) FILTER (WHERE error_desc IS NULL) AS BIGINT) AS n,
               CAST(COUNT(*) FILTER (WHERE error_desc IS NOT NULL) AS BIGINT) AS n_err,
               MIN(value_r) FILTER (WHERE kind = 'numeric') AS vmin,
               MAX(value_r) FILTER (WHERE kind = 'numeric') AS vmax,
               ROUND(AVG(value_r) FILTER (WHERE kind = 'numeric'), 6) AS vmean,
               arg_max(value_str, ts)
                 FILTER (WHERE kind = 'discrete' AND value_str IS NOT NULL
                           AND error_desc IS NULL) AS last_str,
               CAST(COUNT(DISTINCT value_str)
                 FILTER (WHERE kind = 'discrete' AND error_desc IS NULL)
                 AS BIGINT) AS n_distinct,
               ROUND(AVG(len(value_arr))
                 FILTER (WHERE kind = 'spectrum' AND error_desc IS NULL), 6)
                 AS mean_len,
               MIN(list_min(value_arr)) FILTER (WHERE kind = 'spectrum') AS el_min,
               MAX(list_max(value_arr)) FILTER (WHERE kind = 'spectrum') AS el_max,
               CAST(COUNT(value_w)
                 FILTER (WHERE kind = 'numeric' AND data_type LIKE '%_rw'
                           AND error_desc IS NULL) AS BIGINT) AS n_w,
               MIN(value_w) FILTER (WHERE kind = 'numeric'
                                      AND data_type LIKE '%_rw'
                                      AND error_desc IS NULL) AS wmin,
               MAX(value_w) FILTER (WHERE kind = 'numeric'
                                      AND data_type LIKE '%_rw'
                                      AND error_desc IS NULL) AS wmax,
               ROUND(AVG(value_w) FILTER (WHERE kind = 'numeric'
                                            AND data_type LIKE '%_rw'
                                            AND error_desc IS NULL), 6)
                 AS wmean,
               ROUND(AVG(value_r - value_w)
                 FILTER (WHERE kind = 'numeric' AND data_type LIKE '%_rw'
                           AND error_desc IS NULL
                           AND value_r IS NOT NULL
                           AND value_w IS NOT NULL), 6) AS trk_err_r
        FROM typed
        GROUP BY att_conf_id, data_type, kind
        ORDER BY att_conf_id
    """,
    # mirrors sources.fixtures.parameter_history_fixture: every 7th event is
    # a parameter snapshot; latest strictly before the cutoff per attribute
    "q30": """
        WITH params AS (
          SELECT user_id AS att_conf_id, ts AS recv_time,
                 'attr' || CAST(user_id AS VARCHAR) AS label,
                 CASE WHEN value >= 100 THEN 'V' ELSE 'mA' END AS unit,
                 event_type AS description
          FROM events WHERE event_id % 7 = 0),
        ranked AS (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY att_conf_id
                                       ORDER BY recv_time DESC, description DESC) AS rn
          FROM params WHERE recv_time < TIMESTAMP '2024-01-20 00:00:00')
        SELECT att_conf_id, epoch_us(recv_time) AS recv_us, label, unit,
               description
        FROM ranked WHERE rn = 1 ORDER BY att_conf_id
    """,
    "q31": """
        WITH history AS (
          SELECT user_id AS att_conf_id, ts AS time,
                 CASE event_type WHEN 'signup' THEN 'add'
                                 WHEN 'purchase' THEN 'start'
                                 ELSE 'stop' END AS event
          FROM events WHERE event_type IN ('signup', 'purchase', 'error')),
        ranked AS (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY att_conf_id
                                       ORDER BY time, event) AS rn
          FROM history
          WHERE time > TIMESTAMP '2024-01-05 00:00:00'
            AND time < TIMESTAMP '2024-01-20 00:00:00')
        SELECT att_conf_id, epoch_us(time) AS t_us, event, CAST(rn AS BIGINT) AS rn
        FROM ranked WHERE rn <= 10 ORDER BY att_conf_id, t_us, event
    """,
    # spectrum_resample over the rebuilt mixed-type fixture: only the
    # array-typed attributes (user_id % 4 = 3), per-channel daily means;
    # null elements (null source value) carry no reading on either side
    "q32": """
        WITH spec AS (
          SELECT user_id AS att_conf_id, ts,
                 [value, value * 0.5, value * 2] AS arr
          FROM events
          WHERE user_id % 4 = 3 AND event_type != 'error'),
        el AS (
          SELECT att_conf_id,
                 CAST(round_even(epoch_us(ts) / 86400000000.0, 0) AS BIGINT)
                   AS bucket,
                 CAST(generate_subscripts(arr, 1) - 1 AS INT) AS idx,
                 unnest(arr) AS v
          FROM spec)
        SELECT att_conf_id, bucket, idx,
               ROUND(AVG(v), 6) AS mean_v, COUNT(*) AS n
        FROM el WHERE v IS NOT NULL
        GROUP BY att_conf_id, bucket, idx
        ORDER BY att_conf_id, bucket, idx
    """,
    # S7 paged fetch: page [400, 600) of the time-ordered range scan
    "q33": """
        SELECT event_id, epoch_us(ts) AS t_us, value FROM events
        WHERE ts BETWEEN TIMESTAMP '2024-01-10 00:00:00'
                     AND TIMESTAMP '2024-01-20 00:00:00'
        ORDER BY ts, event_id LIMIT 200 OFFSET 400
    """,
    # F6 future-period guard: cacheable iff period < the fixed 'now'
    # (2024-01-15), the cache.cacheable_period rule
    "q34": """
        SELECT strftime(ts, '%Y-%m-%d') AS period,
               CAST(COUNT(*) AS BIGINT) AS n,
               strftime(ts, '%Y-%m-%d') < '2024-01-15' AS cacheable
        FROM events
        GROUP BY strftime(ts, '%Y-%m-%d')
        ORDER BY period
    """,
    # P5/P6 right-anchored rsplit("/", 4) parity (reference hdbpp.py:90-92):
    # cs = everything before the LAST four separators (slashed Tango cs
    # names), '' for malformed <4-separator names (both engines'
    # regexp_extract no-match degradation)
    "q36": """
        WITH base AS (
          SELECT n_nationkey AS id,
                 'tango://' || lower(replace(r_name, ' ', '-')) || ':10000/'
                   || lower(n_name)
                   || '/fam' || CAST(CAST(n_nationkey % 3 AS INT) AS VARCHAR)
                   || '/mem' || CAST(CAST(n_nationkey % 2 AS INT) AS VARCHAR)
                   || '/attr' || CAST(CAST(n_nationkey AS INT) AS VARCHAR)
                   AS full_name
          FROM nation JOIN region ON n_regionkey = r_regionkey
          UNION ALL
          SELECT n_nationkey + 100, lower(n_name) || '/only/three'
          FROM nation)
        SELECT id, full_name,
               regexp_extract(full_name,
                 '^(.*)/[^/]*/[^/]*/[^/]*/[^/]*$', 1) AS cs,
               regexp_extract(full_name,
                 '([^/]*/[^/]*/[^/]*/[^/]*)$', 1) AS att_name
        FROM base
        ORDER BY id
    """,
    # /image lifecycle from first principles: fixture datapoints (user_id ->
    # att_conf_id, error rows -> NULL value_r), axis extrema + 5% padding
    # (plot.py:160-188), clip to [y0, y1), 100x80 binning, per-series raster
    # + per-column hover, y_range on every row. x0/span literals are
    # 2024-01-05T00Z in us and 15 days in us.
    "lifecycle_aggregate": """
        WITH dp AS (
          SELECT user_id AS att_conf_id, ts,
                 CASE WHEN event_type <> 'error' THEN value END AS value_r
          FROM events
          WHERE user_id < 10
            AND ts BETWEEN TIMESTAMP '2024-01-05 00:00:00'
                       AND TIMESTAMP '2024-01-20 00:00:00'),
        -- extrema over the HALF-OPEN request slice [t0, t1), exactly the
        -- engine's view window (r19: the inclusive dp slice serves only
        -- the canvas-clipped raster, whose [t0, t1] bounds ARE inclusive;
        -- a row landing bitwise on t1 would otherwise shift y0/y1 on one
        -- side only)
        rng AS (
          SELECT MIN(value_r) - (MAX(value_r) - MIN(value_r)) * 0.05 AS y0,
                 MAX(value_r) + (MAX(value_r) - MIN(value_r)) * 0.05 AS y1
          FROM dp WHERE ts < TIMESTAMP '2024-01-20 00:00:00'),
        -- canvas clip INCLUSIVE on both y edges with the upper-edge snap
        -- into the last bin (bin_2d's LEAST discipline, mirrored from the
        -- q20/q21 oracles - r19: the half-open y clip and the unsnapped
        -- x bin diverged from the engine at the exact boundary instants)
        clipped AS (
          SELECT att_conf_id,
                 LEAST(CAST(FLOOR((epoch_us(ts) - 1704412800000000)
                            / 1296000000000.0 * 100) AS INT), 99) AS xb,
                 LEAST(CAST(FLOOR((value_r - y0) / (y1 - y0) * 80) AS INT),
                       79) AS yb,
                 value_r
          FROM dp, rng
          WHERE value_r >= y0 AND value_r <= y1),
        raster AS (
          SELECT 'raster' AS kind, att_conf_id, xb, yb,
                 COUNT(*) AS cnt, ROUND(AVG(value_r), 6) AS vmean,
                 ROUND(MIN(value_r), 6) AS vmin, ROUND(MAX(value_r), 6) AS vmax
          FROM clipped GROUP BY att_conf_id, xb, yb),
        hover AS (
          SELECT 'hover' AS kind, att_conf_id, xb,
                 CAST(-1 AS INT) AS yb,
                 COUNT(*) AS cnt, CAST(NULL AS DOUBLE) AS vmean,
                 ROUND(MIN(value_r), 6) AS vmin, ROUND(MAX(value_r), 6) AS vmax
          FROM clipped GROUP BY att_conf_id, xb)
        SELECT kind, att_conf_id, xb, yb, cnt, vmean, vmin, vmax, y0, y1
        FROM (SELECT * FROM raster UNION ALL SELECT * FROM hover), rng
        ORDER BY kind, att_conf_id, xb, yb
    """,
    # /query lifecycle from first principles (§3.2 twin of
    # lifecycle_aggregate): fixture name synthesis + error-row nulling,
    # inclusive BETWEEN trim, raw epoch-us series UNION the 12h
    # round-to-NEAREST resample (bucket = round_even(t/w), t = bucket*w -
    # ties to EVEN, the reference's python-round rule),
    # means rounded at the output boundary like q18.
    "lifecycle_query": """
        WITH dp AS (
          SELECT 'cs1/dom' || CAST(user_id % 5 AS VARCHAR)
                 || '/fam' || CAST(user_id % 10 AS VARCHAR)
                 || '/mem' || CAST(user_id % 3 AS VARCHAR)
                 || '/attr' || CAST(user_id AS VARCHAR) AS name,
                 epoch_us(ts) AS t_us,
                 CASE WHEN event_type <> 'error' THEN value END AS value_r
          FROM events
          WHERE user_id < 6
            AND ts BETWEEN TIMESTAMP '2024-01-05 00:00:00'
                       AND TIMESTAMP '2024-01-20 00:00:00'),
        res AS (
          -- resampled t = MEAN of the member timestamps (the reference's
          -- groupby().mean() averages the t column; the bucket key stays
          -- in the dropped index - data.py:47,52-55,71-72), computed as
          -- bucket*width + exact-int offset sum / n like the engine
          SELECT name,
                 CAST(b AS DOUBLE) * 43200000000
                   + CAST(SUM(t_us - b * 43200000000) AS DOUBLE)
                     / COUNT(*) AS t,
                 ROUND(AVG(value_r), 6) AS value_r
          FROM (SELECT name, t_us, value_r,
                       CAST(round_even(t_us / 43200000000.0, 0) AS BIGINT)
                         AS b
                FROM dp)
          GROUP BY name, b),
        httpq AS (
          -- /httpquery: restrict_time=False returns WHOLE covered
          -- day-periods for the mid-day request [01-05 12:00, 01-19
          -- 18:00] (reference hdbpp.py:16-21, 304-308 over-fetch)
          SELECT 'cs1/dom' || CAST(user_id % 5 AS VARCHAR)
                 || '/fam' || CAST(user_id % 10 AS VARCHAR)
                 || '/mem' || CAST(user_id % 3 AS VARCHAR)
                 || '/attr' || CAST(user_id AS VARCHAR) AS name,
                 epoch_us(ts) AS t,
                 CASE WHEN event_type <> 'error' THEN value END AS value_r
          FROM events
          WHERE user_id < 6
            AND ts >= TIMESTAMP '2024-01-05 00:00:00'
            AND ts <  TIMESTAMP '2024-01-20 00:00:00')
        SELECT 'raw' AS kind, name, CAST(t_us AS DOUBLE) AS t, value_r
        FROM dp
        UNION ALL
        SELECT 'resampled' AS kind, name, t, value_r FROM res
        UNION ALL
        SELECT 'httpquery' AS kind, name, CAST(t AS DOUBLE) AS t, value_r
        FROM httpq
        ORDER BY kind, name, t
    """,
    # PINNED regression oracle for the PNG render path (VERDICT r11
    # 'What's wrong' #2): the render is not SQL-expressible, but its
    # decoded-pixel digest is deterministic (exact integer pixel counts,
    # order-canonicalized compose - proven session-shape-invariant and
    # re-derived from an INDEPENDENT compositor in
    # tests/test_raster_png.py), so the expected rows are pinned as
    # literals per corpus - selected by the events row count, covering
    # exactly the two corpora the gates run (sf0.001 suite, sf0.01
    # driver). This upgrades lifecycle_image from the weak rows-only
    # check to a full value-hash gate: any regression anywhere in the
    # raster -> compose -> encode stack now hash-fails at the driver.
    # NOT a first-principles derivation - the independent derivation
    # lives in the suite; this pin makes it driver-visible. Regenerate
    # the literals after any legitimate render/fixture change with
    # `python -m web_maxiv_hdbppviewer_spark.plans.pin_lifecycle_image`.
    "lifecycle_image": """
        WITH pinned(n_events, axis, width, height, n_lit,
                    pixel_sha256, y0, y1) AS (
          VALUES
            (1000, 0, 200, 120, CAST(3594 AS BIGINT),
             '70ab892a525204c374f9364e72562f92397420d69c740bee800104001bc795a5',
             CAST('-11.2185' AS DOUBLE), CAST('241.7485' AS DOUBLE)),
            (1000, 1, 200, 120, CAST(2965 AS BIGINT),
             'cd33edf2cacb83365b036ab0e586da5196776ae6cf0e7fab106ed492d423360c',
             CAST('-13.895500000000004' AS DOUBLE),
             CAST('303.4655' AS DOUBLE)),
            (10000, 0, 200, 120, CAST(2688 AS BIGINT),
             'f193fc618887381ab428cb89f2e3f942c98a1a78019f4c696800c030a08b27cb',
             CAST('-18.293999999999997' AS DOUBLE),
             CAST('389.234' AS DOUBLE)),
            (10000, 1, 200, 120, CAST(3454 AS BIGINT),
             'e08d9a2d958338568411cedcf7a4aa5636528e4560689f2695a649c55e2388dd',
             CAST('-12.353000000000002' AS DOUBLE),
             CAST('260.953' AS DOUBLE)))
        SELECT axis, width, height, n_lit, pixel_sha256, y0, y1
        FROM pinned
        WHERE n_events = (SELECT COUNT(*) FROM events)
        ORDER BY axis
    """,
}
