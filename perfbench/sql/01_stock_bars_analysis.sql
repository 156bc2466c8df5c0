-- The reference's stock_bars_analysis transform (drop-and-recreate CTAS
-- over window analytics: previous close, daily return, 5-day moving
-- average and 5-day stddev of returns), templated on the bars table.
DROP TABLE IF EXISTS {{ table }}_analysis;

CREATE TABLE {{ table }}_analysis USING parquet AS
WITH prev AS (
  SELECT stock, company, timestamp, CAST(CAST(timestamp AS TIMESTAMP) AS DATE) AS bar_date, close,
         LAG(close, 1) OVER (PARTITION BY stock ORDER BY timestamp) AS prev_close
  FROM {{ table }}),
ret AS (
  SELECT *, ROUND((close - prev_close) / NULLIF(prev_close, 0), 3) AS daily_return
  FROM prev)
SELECT stock, company, bar_date, close, prev_close, daily_return,
       ROUND(daily_return * 100, 1) AS daily_return_pct,
       ROUND(AVG(close) OVER w, 2) AS moving_avg_5,
       ROUND(STDDEV_SAMP(daily_return) OVER w, 2) AS stddev_5
FROM ret
WINDOW w AS (PARTITION BY stock ORDER BY timestamp ROWS BETWEEN 4 PRECEDING AND CURRENT ROW);
