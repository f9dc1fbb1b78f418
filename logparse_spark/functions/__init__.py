"""Python UDTFs registered for SQL use (see `udtfs.py`)."""
