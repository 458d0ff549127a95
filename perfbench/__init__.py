"""Record-linkage benchmark (see README.md)."""
