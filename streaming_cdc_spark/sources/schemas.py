"""Explicit StructTypes for every record type the reference exchanges
via files (SURVEY §1.1). Schemas are fixed and declared — the
reference's implicit json.loads dynamism (utils.py:46-51) is replaced
by permissive reads against these types.
"""

from __future__ import annotations

from pyspark.sql import types as T

# The core mention record (preprocess_medmentions.py:59-65, 124-133;
# superset across datasets — absent fields are null).
MENTION_SCHEMA = T.StructType(
    [
        T.StructField("mention_index", T.LongType()),
        T.StructField("document_id", T.StringType()),
        T.StructField("document_index", T.LongType()),
        T.StructField("left_context", T.StringType()),
        T.StructField("mention", T.StringType()),
        T.StructField("right_context", T.StringType()),
        T.StructField("entity_id", T.StringType()),
        T.StructField("type", T.ArrayType(T.StringType())),
        T.StructField("category", T.StringType()),
        T.StructField("date", T.StringType()),
        T.StructField("split", T.StringType()),
    ]
)

# Cluster-assignment pair (nn_thresh.py:192-194) keyed by stream
# position instead of implicit line order.
CLUSTER_PAIR_SCHEMA = T.StructType(
    [
        T.StructField("mention_index", T.LongType()),
        T.StructField("true_id", T.LongType()),
        T.StructField("pred_id", T.LongType()),
    ]
)

# Dendrogram edge list (grinch_alg.py:597-610; tests/fixtures/tree.tsv).
DENDROGRAM_SCHEMA = T.StructType(
    [
        T.StructField("uid", T.StringType()),
        T.StructField("parent_uid", T.StringType()),
        T.StructField("label", T.StringType()),
    ]
)
