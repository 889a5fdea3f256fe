from crawleria_spark.functions.urls import (
    clean_filename,
    canonicalize,
    host_of,
    doc_id_expr,
    host_expr,
    path_expr,
    url_canon_expr,
    url_hash_col,
)

__all__ = [
    "clean_filename",
    "canonicalize",
    "host_of",
    "doc_id_expr",
    "host_expr",
    "path_expr",
    "url_canon_expr",
    "url_hash_col",
]
