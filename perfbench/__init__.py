"""Paper-workload benchmark of the satellite ingestion engine (see BENCHMARK.json)."""
