"""bloomfilter_spark — a PySpark-native distributed sketch engine.

Brand-new implementation (not a port) with the query semantics of the
public bos/bloomfilter reference: Bloom filter at the center (zero false
negatives, FPR within the sized bound, Kirsch–Mitzenmacher probing,
suggestSizing-equivalent calculator), plus mergeable HLL / Count-Min /
t-digest / KLL sketches, each an associative+commutative aggregate over
vectorized Arrow/pandas numpy kernels. See SURVEY.md for the full mapping.
"""

from .agg import (build_sketch, grouped_sketch_df, hash_col,
                  multi_sketch_build, sketch_df, with_cms_count,
                  with_membership)
from .jvm_build import cms_build_jvm, hll_build_jvm, multi_sketch_build_jvm
from .sizing import (SizingError, analytic_fpr, safe_suggest_sizing,
                     suggest_sizing, suggest_sizing_reference)
from .sketches import KLL, BloomFilter, CountMinSketch, HyperLogLog, Sketch, TDigest

__version__ = "0.1.0"

__all__ = [
    "BloomFilter", "HyperLogLog", "CountMinSketch", "TDigest", "KLL", "Sketch",
    "build_sketch", "sketch_df", "grouped_sketch_df", "hash_col",
    "multi_sketch_build", "hll_build_jvm", "cms_build_jvm",
    "multi_sketch_build_jvm",
    "with_membership", "with_cms_count",
    "suggest_sizing", "safe_suggest_sizing", "suggest_sizing_reference",
    "analytic_fpr", "SizingError",
]
