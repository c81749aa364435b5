-- The reference's own test tasks over `events` (per-user point lookups;
-- results are at most ~100 rows, so a job's latency is its fixed cost).

-- name: get_profit_summary
SELECT CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total,
       CAST(ts AS DATE) AS entry_date
FROM events WHERE user_id = $1 GROUP BY CAST(ts AS DATE) ORDER BY entry_date;

-- name: get_profit_entries
SELECT * FROM events WHERE user_id = $1;

-- name: get_profit_entries_by_date
SELECT * FROM events WHERE user_id = $1 AND ts > $2 AND ts < $3;
