"""The engine's benchmark: see perfbench/README.md."""
