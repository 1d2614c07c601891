"""ifeatureomega_cli_spark — a PySpark-native feature-engineering engine.

From-scratch engine with the descriptor capabilities of iFeatureOmega-CLI
(reference: Superzchen/iFeatureOmega-CLI, studied read-only at
/root/reference) re-expressed Spark-first:

* sequence descriptors (AAC, k-mer composition, CKSAAP, CTD, PseAAC, ...)
  as vectorized Arrow/pandas UDFs over tables of pre-tokenized sequences
  ``(doc_id string, tokens array<int32>, n_tok int32, source string)`` —
  never per-row Python;
* point-in-time (as-of) join + windowed feature operators — backfill,
  lag/lead, sessionize — as pure DataFrame combinators;
* training-data pipeline operators: dedup (exact / MinHash-LSH / SimHash /
  n-gram Jaccard / embedding-cosine, plus connected-component keeper
  resolution over the candidate pairs), ANN similarity search and text
  quality stats.
"""

from ifeatureomega_cli_spark.session import get_spark
from ifeatureomega_cli_spark.functions.extract import extract, extract_many, feature_names
from ifeatureomega_cli_spark.functions.registry import DESCRIPTORS, descriptor_names
from ifeatureomega_cli_spark.operators.asof import asof_join
from ifeatureomega_cli_spark.operators.fill import backfill, ffill
from ifeatureomega_cli_spark.operators.lag_lead import lag_lead
from ifeatureomega_cli_spark.operators.sessionize import sessionize
from ifeatureomega_cli_spark.operators.topk import top_k_per_group
from ifeatureomega_cli_spark.api import (Analysis, DNADataset,
                                         LigandDataset, ProteinDataset,
                                         RNADataset)

__all__ = [
    "Analysis",
    "get_spark",
    "extract",
    "extract_many",
    "ProteinDataset",
    "DNADataset",
    "LigandDataset",
    "RNADataset",
    "feature_names",
    "DESCRIPTORS",
    "descriptor_names",
    "asof_join",
    "backfill",
    "ffill",
    "lag_lead",
    "sessionize",
    "top_k_per_group",
]

__version__ = "0.1.0"
