"""PySpark-native analytics engine with the query/data-processing
capabilities of the reference repo ``clayouuz/MapReduce_StockHeadlines``
(read-only at /root/reference), re-expressed Spark-first.

The reference implements two Hadoop MapReduce jobs (StockCount.java,
WordCount.java); this engine covers that surface (SURVEY.md §2.1 O1-O18)
plus the declared relational/LLM-pipeline query set
(SURVEY.md §2.2-§2.3) on the DataFrame/SQL API, letting Catalyst pick
physical strategies.
"""

__version__ = "0.1.0"
