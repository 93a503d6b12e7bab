from tlhop_library_spark.index.aliases import (
    read_aliases,
    reader_for_alias,
    update_aliases,
)
from tlhop_library_spark.index.append import add_documents
from tlhop_library_spark.index.build import IndexBuilder, build_index
from tlhop_library_spark.index.delete import (
    delete_by_query,
    delete_documents,
    expunge_deletes,
    load_tombstones,
)
from tlhop_library_spark.index.fsck import (
    IndexCorruption,
    verify_index,
)
from tlhop_library_spark.index.layout import read_doc_lengths
from tlhop_library_spark.index.merge import merge_index_ranges
from tlhop_library_spark.index.multifield import (
    MultiFieldIndexReader,
    ShardedMultiFieldIndexReader,
)
from tlhop_library_spark.index.query import IndexReader, score_exhaustive
from tlhop_library_spark.index.sharded import ShardedIndexReader
from tlhop_library_spark.index.snapshot import (
    restore_index,
    snapshot_index,
    verify_snapshot,
)

__all__ = [
    "ShardedIndexReader",
    "MultiFieldIndexReader",
    "ShardedMultiFieldIndexReader",
    "IndexBuilder",
    "build_index",
    "IndexReader",
    "score_exhaustive",
    "merge_index_ranges",
    "add_documents",
    "read_doc_lengths",
    "delete_documents",
    "delete_by_query",
    "expunge_deletes",
    "load_tombstones",
    "verify_index",
    "snapshot_index",
    "restore_index",
    "verify_snapshot",
    "read_aliases",
    "update_aliases",
    "reader_for_alias",
    "IndexCorruption",
]
