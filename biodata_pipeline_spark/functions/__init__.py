from biodata_pipeline_spark.functions.embed import embed_text, hash_embedding_loader
from biodata_pipeline_spark.functions.vector import cosine_sim, dot, l2_norm
from biodata_pipeline_spark.functions import aggs, textfn

__all__ = [
    "dot",
    "l2_norm",
    "cosine_sim",
    "aggs",
    "textfn",
    "embed_text",
    "hash_embedding_loader",
]
