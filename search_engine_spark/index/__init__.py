"""Index layer: the persistent build (persist.py), its lifecycle (append,
deletes, compact) and the queryable PackedIndex."""
