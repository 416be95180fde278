"""Daily-job benchmark: seeded span workloads, end-to-end job metrics and a
traced per-layer breakdown. See README.md; the entry point is run.py."""
