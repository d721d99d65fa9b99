from .ingest import IngestJob, run_ingest  # noqa: F401
