"""The repository's benchmark harness (see README.md in this directory)."""
