"""PySpark-native timeseries analytics engine.

A brand-new engine with the query and data-processing capabilities of
MaxIV-KitsControls/web-maxiv-hdbppviewer (an HDB++ archive viewer), re-expressed
Spark-first: DataFrame/SQL logical plans optimized by Catalyst, Tungsten
execution, Structured Streaming for the incremental paths.

Layout:
  session    - SparkSession factory (UTC, AQE, arrow, shuffle sizing)
  schemas    - fixed StructType declarations (HDB++ logical model + testdata)
  sources    - parquet loaders / HDB++ logical-model adapters
  functions  - column-expression helpers (time, names, vectors, text hashing)
  operators  - engine operators (resample, raster, extrema, as-of, dedup,
               similarity, text quality, multimodal)
  plans      - declared queries (SURVEY.md section 2.11 Q1-Q28 + extensions)
               and their DuckDB oracle SQL
  api        - result renderers (CSV, Grafana JSON) for the /query lifecycle
  streaming  - incremental merge (hot "today" partition) + live-mode streams
  cache      - session-artifact registry, F6 future-period rule
"""

__version__ = "0.1.0"
