"""Job lifecycle: job ledger (sqlite3 store) + batch/streaming pipeline runner."""
