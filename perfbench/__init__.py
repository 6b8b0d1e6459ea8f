"""Layer-attributed benchmark of the engine (see perfbench/README.md)."""
