"""Search-engine benchmark (see README.md)."""
