"""pfithic_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of the pFitHiC reference (omegahh/pFitHiC).

The reference is a pandas-vectorized + multiprocessing re-implementation
of the Fit-Hi-C pipeline (Ay, Bailey & Noble, Genome Research 2014):
statistical confidence estimation for Hi-C chromatin contacts.  This
package re-expresses that operator surface Spark-first (DataFrame/SQL,
Catalyst-planned, no RDDs) and adds the LLM-data-pipeline operators
(dedup, similarity search, multimodal columns, text analysis) mandated
for 100 TB-scale training-data work.

Layout:
    api.py         library entry points (run_pipeline_files,
                   run_curation_files)
    __main__.py    Fit-Hi-C CLI (python -m pfithic_spark)
    curate.py      corpus-curation CLI
    table.py       atomic-table maintenance CLI
    session.py     SparkSession construction + engine confs
    io.py          schemas + readers/writers (TSV/gz, parquet, atomic
                   manifest tables)
    relational.py  filters / projections / joins / set ops
    aggregates.py  global & grouped aggregations
    windows.py     window functions, equal-occupancy binning, BH-FDR,
                   two-phase global ordered scans
    cache.py       keep-recent cache pools (probe and signature)
    stats.py       numpy statistical kernels (binom_sf, PAVA, spline)
    hic.py         composed significance pipeline (run_significance)
    llmops.py      dedup / similarity / text-analysis operators
    multimodal.py  binary-column (image/audio) plumbing
    streaming.py   Structured Streaming surface
    fixtures.py    deterministic fixture derivations shared with the
                   DuckDB oracle
    registry/      queries() / oracle_sql() registry for the driver
"""

__version__ = "0.1.0"
