"""Engine machinery that plain DataFrame queries can't express:
stateful SCD2 upsert, watermark store, schema-evolving append.

- ``watermark``  : per-table high-watermark state (T1-T3, A5, F11)
- ``scd2``       : hash-diff SCD Type 2 upsert (J1/J4, T5/T6, F3-F6)
- ``writer``     : parquet sinks — snapshot commits whose pointer
                   carries the schema, and the schema-evolving
                   union-by-name append (S5-S8)
"""
