"""LLM-training-data pipeline queries (BASELINE.json north star):
text analysis, fingerprinting, four dedup families, similarity search,
vector compression, multimodal plumbing, corpus shaping — over the
driver's ``documents`` / ``embeddings`` tables.

Split into family modules in r14 (VERDICT r13 item 7) from the former
single plans/llm.py; importing this package registers every query, and
all former ``plans.llm`` names (including the underscore helpers tests
and scripts import) re-export here, so the split is invisible to
callers.

Every fuzzy operator here (MinHash, SimHash, LSH buckets, cosine) is
built on deterministic integer arithmetic (see operators/dedup.py and
functions/vectors.py), which is why each has an EXACT DuckDB oracle —
the oracle replays the same arithmetic in SQL rather than settling for
a rows-only check.
"""

from distributed_query_engine_spark.plans.llm._shared import *  # noqa: F401,F403
from distributed_query_engine_spark.plans.llm._shared import (  # noqa: F401
    _IVEC_CTE,
    _IVF_NEW_LO,
    _IVF_NEW_MOD,
    _LSH_BUCKET_CTES,
    _QUERY_IDS,
    _RECALL_IDS_SQL,
    _RECALL_QUERY_IDS,
    _TOKENS_CTE,
)
from distributed_query_engine_spark.plans.llm.text import *  # noqa: F401,F403
from distributed_query_engine_spark.plans.llm.text import (  # noqa: F401
    _BPE_TRAIN_K,
    _QUALITY_SQL,
    _bpe_train_oracle,
    _train_bpe_merges,
)
from distributed_query_engine_spark.plans.llm.dedup import *  # noqa: F401,F403
from distributed_query_engine_spark.plans.llm.dedup import (  # noqa: F401
    incremental_dedup_oracle,
)
from distributed_query_engine_spark.plans.llm.similarity import *  # noqa: F401,F403
from distributed_query_engine_spark.plans.llm.similarity import (  # noqa: F401
    _ivf_incr_index_dir,
)
from distributed_query_engine_spark.plans.llm.vector import *  # noqa: F401,F403
from distributed_query_engine_spark.plans.llm.vector import (  # noqa: F401
    _CLUST_W,
    _clustered_embeddings,
    _pq_recall_frame,
)
from distributed_query_engine_spark.plans.llm.sampling import *  # noqa: F401,F403
from distributed_query_engine_spark.plans.llm.multimodal import *  # noqa: F401,F403
from distributed_query_engine_spark.plans.llm.similarity import (  # noqa: F401
    _KMEANS_CELLS,
    _KMEANS_ITERS,
)
