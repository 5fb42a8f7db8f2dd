"""Scale-safe operator primitives (see each module's docstring for the
100 TB design rationale and reference citations)."""

from .asof_join import asof_join  # noqa: F401
from .band_join import band_join, band_join_condition  # noqa: F401
from .dedup import (  # noqa: F401
    exact_duplicates,
    fingerprint_duplicates,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
    simhash_pairs,
)
from .keys import dense_key, hash_key  # noqa: F401
from .rollup_time import (  # noqa: F401
    cascade_rollup,
    distinct_rollup,
    quantile_rollup,
    retention_overlap,
)
from .sampling import deterministic_sample, split_by_hash  # noqa: F401
from .scd2 import scd2_initial_load, scd2_merge  # noqa: F401
from .similarity import (  # noqa: F401
    blocked_neardup,
    cosine_topk,
    ivf_topk,
    lloyd_refine,
    lsh_topk,
)
from .bpe import bpe_encode, bpe_train  # noqa: F401
from .privacy import (  # noqa: F401
    depseudonymize,
    forget_tokens,
    pseudonymize,
)
from .skew import salted_agg, salted_broadcast_join  # noqa: F401
from .txlog import (  # noqa: F401
    DataStore,
    LocalFSDataStore,
    LocalFSLogStore,
    LogStore,
    TxConflict,
    TxCorruption,
    register_data_store,
    register_log_store,
    tx_append,
    tx_changes,
    tx_cleanup_log,
    tx_clone,
    tx_compact,
    tx_drop_column,
    tx_drop_constraint,
    tx_drop_generated_column,
    tx_dv_stats,
    tx_erase_keys,
    tx_history,
    tx_merge,
    tx_optimize,
    tx_overwrite,
    tx_prune,
    tx_read,
    tx_rename_column,
    tx_replace_where,
    tx_restore,
    tx_set_constraint,
    tx_set_generated_column,
    tx_set_partition_spec,
    tx_snapshot,
    tx_stream_sink,
    tx_vacuum,
    tx_version_at,
    tx_write_manifest,
)
