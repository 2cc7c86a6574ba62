"""PySpark-native analytics engine with the query & data-processing
capabilities of bari-data-dev/Python-SQL-Datawarehouse-Project.

Built Spark-first (DataFrame/SQL + Catalyst), not a port of the
reference's psycopg2/DuckDB/plpgsql machinery. See SURVEY.md for the
capability inventory this package reproduces.

Layout:
  session     SparkSession factory (AQE, partitioning, core budget).
  catalog     Table registry over parquet dirs; temp-view registration.
  star        Gold star schema (dim_customers/dim_products/fact_sales)
              expressed over the TPC-H-ish test tables.
  operators/  Analytical query shapes (MV/EDA parity), recursive chain,
              window ops.
  functions/  Scalar cleansing kit (R1-R8), text analysis, fingerprints.
  sources/    Readers (csv/json/parquet/excel), mapping projection,
              validation operators (V1-V5).
  plans/      Medallion pipeline (bronze->silver->gold), MV registry,
              run-log, dependency-gated execution.
"""

__version__ = "0.1.0"
