"""Repository benchmark: see NOTES.md and ../BENCHMARK.json."""
